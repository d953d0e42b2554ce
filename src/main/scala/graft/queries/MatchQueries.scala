package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.operators.FastMatch
import graft.streaming.IndexMaintenance
import graft.streaming.IndexMaintenance.{Appends, Feed, SizedFeed, Tombstones}
import Q._

/** FM1 — FastMatch queries (SURVEY §2.8): multi-pattern gazetteer matching
  * over the documents corpus with word-boundary semantics.
  *
  * The matcher is an Aho-Corasick automaton built once on the driver and
  * shipped in the task closure (broadcast-sized by contract — the reference
  * gazetteer is 2,948 names). Scan is O(|text| + matches) per document
  * regardless of candidate count; the DuckDB oracle is the O(n·m)
  * per-candidate regex plan (SURVEY §2.8 plan B) — same answer, test scale
  * only.
  */
object MatchQueries {

  /** Gazetteer stand-in: multi-word phrases + single words over the testdata
    * vocabulary (reference: `db/data_set_labels.json` dataset names). */
  val gazetteer: Seq[String] = Seq(
    "table scan", "hash join", "sort merge", "merge join", "data", "stream",
    "window", "fast scan")

  /** fm1_gazetteer_counts — per (doc, candidate) occurrence counts. */
  def fm1GazetteerCounts(s: SparkSession, dir: String): DataFrame = {
    val fm = FastMatch.matcher(gazetteer)
    t(s, dir, "documents")
      .select(col("doc_id"), explode(fm(col("text"))).as("m"))
      .groupBy(col("doc_id"), col("m.matched").as("matched"))
      .agg(count(lit(1)).as("n"))
      .orderBy("doc_id", "matched")
  }

  val fm1GazetteerCountsSql: String = {
    val arms = gazetteer.map { cand =>
      val esc = cand.replace("'", "''")
      s"""SELECT doc_id, '$esc' AS matched, len(regexp_extract_all(lower(text), '\\b${esc}\\b')) AS n FROM documents"""
    }
    s"""SELECT doc_id, matched, n FROM (${arms.mkString("\nUNION ALL\n")}) t
       |WHERE n > 0 ORDER BY doc_id, matched""".stripMargin
  }

  /** fm1_match_spans — full (matched, start, end) spans, 0-based end-exclusive
    * offsets. Oracle: the SURVEY §2.8 plan-B naive scan — enumerate every
    * start position (unnest over range(0, len)), test the substring plus both
    * word boundaries per candidate. O(chars × candidates), test scale only;
    * span correctness is additionally property-tested against a regex oracle
    * in FastMatchSpec. */
  def fm1MatchSpans(s: SparkSession, dir: String): DataFrame = {
    val fm = FastMatch.matcher(gazetteer)
    t(s, dir, "documents")
      .select(col("doc_id"), explode(fm(col("text"))).as("m"))
      .select(col("doc_id"), col("m.matched").as("matched"),
        col("m.start").as("start"), col("m.end").as("end"))
      .orderBy("doc_id", "start", "matched")
  }

  val fm1MatchSpansSql: String = {
    // boundary class mirrors FastMatch.isWordChar (Character.isLetterOrDigit
    // || '_') via Unicode \p{L}\p{N} — an ASCII-only [a-z0-9_] would accept
    // matches adjacent to non-ASCII letters that the Scala matcher rejects
    // (ADVICE r5). Offsets index the ORIGINAL text: lower() is applied for
    // comparison only, safe because no corpus char changes length under
    // lowercasing (ASCII vocabulary; a locale-sensitive 'İ' would not).
    val values = gazetteer.map(c => s"('${c.replace("'", "''")}')").mkString(", ")
    s"""WITH cands(cand) AS (VALUES $values),
       |pos AS (SELECT doc_id, lower(text) AS t, unnest(range(0, len(text))) AS s FROM documents)
       |SELECT p.doc_id, c.cand AS matched, p.s AS start, p.s + len(c.cand) AS "end"
       |FROM pos p CROSS JOIN cands c
       |WHERE substr(p.t, CAST(p.s + 1 AS INT), len(c.cand)) = c.cand
       |  AND (p.s = 0 OR NOT regexp_matches(substr(p.t, CAST(p.s AS INT), 1), '^[\\p{L}\\p{N}_]$$'))
       |  AND (p.s + len(c.cand) >= len(p.t)
       |       OR NOT regexp_matches(substr(p.t, CAST(p.s + len(c.cand) + 1 AS INT), 1), '^[\\p{L}\\p{N}_]$$'))
       |ORDER BY doc_id, start, matched""".stripMargin
  }

  /** Shared oracle CTE: distinct (doc_id, entity) presence via the fm1
    * regex arms — the relation both kg oracles build their graph from. */
  private[queries] val entityDocsSql: String = {
    val arms = gazetteer.map { cand =>
      val esc = cand.replace("'", "''")
      s"""SELECT doc_id, '$esc' AS entity FROM documents WHERE len(regexp_extract_all(lower(text), '\\b${esc}\\b')) > 0"""
    }
    s"""ed AS (${arms.mkString("\nUNION ALL\n")})"""
  }

  /** Distinct (doc_id, entity) presence table, pinned once per (session,
    * dir) — kg1's edge build and kg2's rank both read it, so the
    * corpus-proportional Aho-Corasick scan runs ONCE; everything above it
    * is gazetteer-bounded. */
  private def entityDocs(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionShare.materialized(s, dir, "kg_entity_docs") {
      val fm = FastMatch.matcher(gazetteer)
      t(s, dir, "documents")
        .select(col("doc_id"), explode(fm(col("text"))).as("m"))
        .select(col("doc_id"), col("m.matched").as("entity")).distinct()
    }

  /** kg1_entity_graph — the knowledge-graph EDGE BUILD the reference
    * declares but stubs (`knowledge_graph/__init__.py` is zero bytes;
    * `README.md:8-9` promises the capability): entities (gazetteer
    * matches) that co-occur in a document get an edge weighted by
    * co-document count and scored with document-level NPMI (a6's
    * collocation convention lifted from token adjacency to entity
    * co-occurrence — the standard first pass of KG construction from
    * corpus text). Scale shape: ONE corpus match scan (the pinned
    * [[entityDocs]]); the per-doc self-join fans out only within a doc's
    * matched-entity set (gazetteer-bounded, ≤|G| per doc) and every frame
    * above it is ≤|G|² rows. */
  def kg1EntityGraph(s: SparkSession, dir: String): DataFrame = {
    val ed = entityDocs(s, dir)
    val nd = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
    val ent = ed.groupBy("entity").agg(count(lit(1)).as("n_docs"))
    val co = ed.as("a")
      .join(ed.as("b"), Seq("doc_id"))
      .filter(col("a.entity") < col("b.entity"))
      .groupBy(col("a.entity").as("e1"), col("b.entity").as("e2"))
      .agg(count(lit(1)).as("n_co"))
    val d = DoubleType
    val (pxy, px, py) = (
      col("n_co").cast(d) / col("nd").cast(d),
      col("n_e1").cast(d) / col("nd").cast(d),
      col("n_e2").cast(d) / col("nd").cast(d))
    co.crossJoin(broadcast(nd))
      .join(ent.select(col("entity").as("e1"), col("n_docs").as("n_e1")), Seq("e1"))
      .join(ent.select(col("entity").as("e2"), col("n_docs").as("n_e2")), Seq("e2"))
      // p_xy = 1 (the pair co-occurs in EVERY document) makes −ln(p_xy) = 0:
      // NPMI's limit there is 1 by convention. Left unguarded, Spark casts
      // the NaN/Inf to 0 while DuckDB errors — the a15 zero-denominator rule
      .withColumn("npmi_e6",
        when(col("n_co") === col("nd"), lit(1000000L)).otherwise(
          round(lit(1e6) * (log(pxy / (px * py)) / -log(pxy))).cast(LongType)))
      .select("e1", "e2", "n_co", "n_e1", "n_e2", "npmi_e6")
      .orderBy(desc("npmi_e6"), col("e1"), col("e2"))
  }

  val kg1EntityGraphSql: String =
    s"""WITH $entityDocsSql,
       |nd AS (SELECT COUNT(*) AS nd FROM documents),
       |ent AS (SELECT entity, COUNT(*) AS n_docs FROM ed GROUP BY entity),
       |co AS (
       |  SELECT a.entity AS e1, b.entity AS e2, COUNT(*) AS n_co
       |  FROM ed a JOIN ed b ON a.doc_id = b.doc_id AND a.entity < b.entity
       |  GROUP BY a.entity, b.entity)
       |SELECT e1, e2, CAST(n_co AS BIGINT) AS n_co,
       |  CAST(ea.n_docs AS BIGINT) AS n_e1, CAST(eb.n_docs AS BIGINT) AS n_e2,
       |  CASE WHEN n_co = nd THEN 1000000
       |  ELSE CAST(ROUND(1e6 * (ln((CAST(n_co AS DOUBLE) / nd) /
       |    ((CAST(ea.n_docs AS DOUBLE) / nd) * (CAST(eb.n_docs AS DOUBLE) / nd)))
       |    / -ln(CAST(n_co AS DOUBLE) / nd))) AS BIGINT) END AS npmi_e6
       |FROM co JOIN ent ea ON ea.entity = co.e1 JOIN ent eb ON eb.entity = co.e2
       |CROSS JOIN nd ORDER BY npmi_e6 DESC, e1, e2""".stripMargin

  private val KgIters = 10

  /** kg2_entity_pagerank — weighted PageRank over kg1's co-occurrence
    * graph: the centrality pass of the stubbed knowledge-graph stage
    * (which entities anchor the corpus). a16's integer power-iteration
    * recipe with EDGE WEIGHTS: per-iteration contribution is
    * (r·w) div Σw(src), teleport 0.15, damping 0.85, ranks e6 integers —
    * both engines fold identically, and the graph frames are
    * gazetteer-bounded (the corpus appears only through the pinned
    * [[entityDocs]] scan). Isolated entities (no co-occurrence edge)
    * drop, the a16 node convention. */
  /** Runtime ceiling for the driver-side graph contract: the collected
    * edge list must stay gazetteer-bounded (≤|G|² — the real reference
    * gazetteer of 2,948 names worst-cases at 4.3M pairs, far above what
    * co-occurrence ever yields, but a VOCABULARY-sized entity set would
    * blow past this and must fail loud, not melt the driver). */
  private[graft] val KgMaxEdges = 100000

  /** Collect an edge frame under the bounded-graph contract, guarded
    * (VERDICT r12 #2: a contract without an assert fails silently).
    * `limit(max+1)` makes the guard free — no extra count job; edge order
    * is irrelevant to every consumer (they aggregate). Over-contract input
    * throws with the escape hatch (a16's distributed iteration). */
  private[graft] def collectBoundedEdges(co: DataFrame, maxEdges: Int)
      : Array[org.apache.spark.sql.Row] = {
    val rows = co.limit(maxEdges + 1).collect()
    if (rows.length > maxEdges) throw new IllegalStateException(
      s"bounded-graph contract violated: > $maxEdges edges collected to the driver. " +
        "This path is for gazetteer-bounded entity graphs; a vocabulary-sized graph " +
        "must use the distributed iteration (a16_textrank's shape) instead.")
    rows
  }

  /** The kg2 power iteration over an explicit (e1, e2, w) edge frame —
    * split out so the guard and the empty-graph case are spec-testable
    * with synthetic graphs ([[KgMaxEdges]] overridable for fixtures). */
  private[graft] def pagerankCore(s: SparkSession, co: DataFrame,
      maxEdges: Int = KgMaxEdges): DataFrame = {
    import s.implicits._
    // the edge list is ≤|G|² rows BY CONTRACT (the gazetteer is
    // broadcast-sized — the same bounded-collect contract as ir7's MMR
    // greedy and e2e5's fused pool), so the power iteration runs on the
    // driver over the collected graph: 10 chained Spark joins over an
    // ≤|G|-node graph cost ~1.6 s of pure plan-depth constant and nothing
    // else (measured; the distributed iteration is a16's shape, kept THERE
    // because a16's word graph is vocabulary-sized and genuinely must not
    // be collected). Arithmetic is unchanged integer math — the oracle's
    // unrolled CTEs replay it exactly.
    val collected = collectBoundedEdges(co, maxEdges).map(r =>
      (r.getAs[String]("e1"), r.getAs[String]("e2"), r.getAs[Long]("w")))
    // no co-occurring pair anywhere → empty rank table (the oracle's empty
    // result), NOT a divide-by-zero on n = 0 (ADVICE r12)
    if (collected.isEmpty)
      return Seq.empty[(String, Long)].toDF("entity", "rank_e6")
    val edges = collected.flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
    val wsum = edges.groupBy(_._1).map { case (src, es) => src -> es.map(_._3).sum }
    val nodes = edges.map(_._1).distinct.sorted
    val n = nodes.length.toLong
    val teleport = 150000L / n
    var ranks = nodes.map(_ -> 1000000L / n).toMap
    for (_ <- 1 to KgIters) {
      val in = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      edges.foreach { case (src, dst, w) =>
        in(dst) += ranks(src) * w / wsum(src) // nonneg: / == div on both engines
      }
      ranks = nodes.map(e => e -> (teleport + 85L * in(e) / 100L)).toMap
    }
    ranks.toSeq.sortBy { case (e, r) => (-r, e) }
      .toDF("entity", "rank_e6")
  }

  def kg2EntityPagerank(s: SparkSession, dir: String): DataFrame = {
    val ed = entityDocs(s, dir)
    pagerankCore(s, ed.as("a")
      .join(ed.as("b"), Seq("doc_id"))
      .filter(col("a.entity") < col("b.entity"))
      .groupBy(col("a.entity").as("e1"), col("b.entity").as("e2"))
      .agg(count(lit(1)).as("w")))
  }

  val kg2EntityPagerankSql: String = {
    val iters = (1 to KgIters).map { i =>
      s"""pr$i AS (
         |  SELECT e.dst AS entity,
         |    (SELECT 150000 // n FROM nn) + (85 * CAST(SUM((p.r * e.w) // e.wsum) AS BIGINT)) // 100 AS r
         |  FROM ew e JOIN pr${i - 1} p ON p.entity = e.src GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $entityDocsSql,
       |co AS (
       |  SELECT a.entity AS e1, b.entity AS e2, COUNT(*) AS w
       |  FROM ed a JOIN ed b ON a.doc_id = b.doc_id AND a.entity < b.entity
       |  GROUP BY a.entity, b.entity),
       |edges AS (SELECT e1 AS src, e2 AS dst, w FROM co
       |  UNION ALL SELECT e2, e1, w FROM co),
       |ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM edges GROUP BY src),
       |ew AS (SELECT e.src, e.dst, e.w, s.wsum FROM edges e JOIN ws s USING (src)),
       |nodes AS (SELECT DISTINCT src AS entity FROM edges),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |pr0 AS (SELECT entity, 1000000 // n AS r FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT entity, r AS rank_e6 FROM pr$KgIters
       |ORDER BY rank_e6 DESC, entity""".stripMargin
  }

  /** kg3's community edge threshold: NPMI ≥ 0.1 (e6-scaled). Pairs below
    * this co-occur near (or below) independence — keeping them would fuse
    * everything into one giant component; cutting them leaves the
    * genuinely-associated cliques (measured at sf0.001/sf0.01: 2–3-entity
    * communities + singletons, non-trivial at both SFs). */
  private[graft] val KgCommunityThrE6 = 100000L

  /** Connected components over an explicit entity edge list, driver-side
    * union-find under the same bounded-graph contract as [[pagerankCore]]
    * (union-by-min keeps every root the lexicographic MIN of its component
    * — the dd8 cluster-id convention on strings). `nodes` supplies the
    * full entity universe so edge-less entities stay as singletons (the
    * sm10 convention, richer than dd8's edge-only node set). Exposed for
    * the clique/weak-bridge fixture spec. */
  private[graft] def communitiesCore(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, maxEdges: Int = KgMaxEdges): DataFrame = {
    import s.implicits._
    // over-contract graphs no longer THROW (VERDICT r13 #7): components
    // are components — fall back to dd8's distributed min-label
    // propagation over the same thresholded edges, same oracle
    val boundedE = edges.limit(maxEdges + 1).collect()
    val boundedN = nodes.limit(maxEdges + 1).collect()
    if (boundedE.length > maxEdges || boundedN.length > maxEdges)
      return communitiesDistributed(s, nodes, edges)
    val ns = boundedN.map(_.getAs[String]("entity"))
    val es = boundedE
      .map(r => (r.getAs[String]("e1"), r.getAs[String]("e2")))
    val parent = scala.collection.mutable.Map(ns.map(n => n -> n): _*)
    def find(x: String): String = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val comp = ns.map(n => n -> find(n))
    val sizes = comp.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    comp.map { case (e, c) => (e, c, sizes(c)) }
      .sortBy { case (e, c, _) => (c, e) }.toSeq
      .toDF("entity", "community", "n_members")
  }

  /** The DISTRIBUTED escape hatch for [[communitiesCore]] (VERDICT r13 #7):
    * dd8's min-label propagation ([[graft.operators.Dedup
    * .connectedComponents]] — per round one equi-join + one map-side-
    * combinable min aggregate, fixpoint-detected) over the same
    * thresholded edge frame. min-label on STRINGS is lexicographic, which
    * is exactly the driver path's union-by-min convention, so the two
    * paths are answer-identical (spec-asserted on a shared fixture);
    * edge-less nodes re-enter as singletons via the left join (the sm10
    * convention the driver path also follows). Nothing corpus-sized ever
    * reaches the driver. */
  private[graft] def communitiesDistributed(s: SparkSession, nodes: DataFrame,
      edges: DataFrame): DataFrame = {
    val comp = graft.operators.Dedup.connectedComponents(edges, "e1", "e2")
      .select(col("id").as("entity"), col("comp"))
    val labeled = nodes.join(comp, Seq("entity"), "left")
      .select(col("entity"), coalesce(col("comp"), col("entity")).as("community"))
    val sizes = labeled.groupBy("community").agg(count(lit(1)).as("n_members"))
    labeled.join(sizes, Seq("community"))
      .select("entity", "community", "n_members")
      .orderBy("community", "entity")
  }

  /** kg3_entity_communities — community detection over kg1's graph, the
    * standard second KG analysis pass (which entity clusters co-travel):
    * connected components over the NPMI-THRESHOLDED edge set
    * ([[KgCommunityThrE6]] cuts near-independence co-occurrence, so only
    * genuinely-associated entities fuse), community id = min member (the
    * dd8 cluster convention), singletons kept (the sm10 convention). The
    * third realized face of the reference's declared-but-stubbed
    * `knowledge_graph/` stage after kg1 (edges) and kg2 (centrality).
    *
    * Scale shape: ONE pinned corpus match scan ([[entityDocs]], shared
    * with kg1/kg2/el2); the edge frame is |G|²-bounded so the component
    * pass runs driver-side — and an over-contract graph now FALLS BACK to
    * [[communitiesDistributed]] (dd8's min-label propagation) instead of
    * throwing (VERDICT r13 #7): components are components, the oracle is
    * unchanged. Oracle: the kg1 NPMI chain + the dd8 recursive-CTE
    * reachability, min(label) per node. */
  def kg3EntityCommunities(s: SparkSession, dir: String): DataFrame = {
    val nodes = entityDocs(s, dir).select("entity").distinct()
    val edges = kg1EntityGraph(s, dir)
      .filter(col("npmi_e6") >= KgCommunityThrE6).select("e1", "e2")
    communitiesCore(s, nodes, edges)
  }

  val kg3EntityCommunitiesSql: String =
    s"""WITH RECURSIVE $entityDocsSql,
       |nd AS (SELECT COUNT(*) AS nd FROM documents),
       |ent AS (SELECT entity, COUNT(*) AS n_docs FROM ed GROUP BY entity),
       |co AS (
       |  SELECT a.entity AS e1, b.entity AS e2, COUNT(*) AS n_co
       |  FROM ed a JOIN ed b ON a.doc_id = b.doc_id AND a.entity < b.entity
       |  GROUP BY a.entity, b.entity),
       |npmi AS (
       |  SELECT e1, e2,
       |    CASE WHEN n_co = nd THEN 1000000
       |    ELSE CAST(ROUND(1e6 * (ln((CAST(n_co AS DOUBLE) / nd) /
       |      ((CAST(ea.n_docs AS DOUBLE) / nd) * (CAST(eb.n_docs AS DOUBLE) / nd)))
       |      / -ln(CAST(n_co AS DOUBLE) / nd))) AS BIGINT) END AS npmi_e6
       |  FROM co JOIN ent ea ON ea.entity = co.e1 JOIN ent eb ON eb.entity = co.e2
       |  CROSS JOIN nd),
       |strong AS (SELECT e1, e2 FROM npmi WHERE npmi_e6 >= $KgCommunityThrE6),
       |nodes AS (SELECT DISTINCT entity FROM ed),
       |edges AS (SELECT e1 AS u, e2 AS v FROM strong UNION SELECT e2, e1 FROM strong),
       |reach AS (
       |  SELECT entity AS id, entity AS r FROM nodes
       |  UNION
       |  SELECT e.u AS id, rr.r FROM edges e JOIN reach rr ON rr.id = e.v),
       |comp AS MATERIALIZED (SELECT id AS entity, MIN(r) AS community FROM reach GROUP BY id)
       |SELECT entity, community,
       |  CAST(COUNT(*) OVER (PARTITION BY community) AS BIGINT) AS n_members
       |FROM comp ORDER BY community, entity""".stripMargin

  /** el1_mention_link — the entity-linking stage the reference declares
    * but stubs (`entity_linking/__init__.py` is zero bytes; `README.md:8-9`
    * promises it): every corpus surface form within Levenshtein distance 1
    * of a single-word gazetteer entity links to its canonical entity —
    * typo/variant alias resolution, the first pass of every EL system.
    * Candidate generation is dd17's FastSS deletion-neighborhood EQUI-join
    * (never a vocabulary×gazetteer scan), verification is exact
    * `levenshtein`, and DISAMBIGUATION — a form within distance 1 of two
    * entities — picks the better-supported candidate: (distance asc,
    * corpus document-prior desc, entity) via a row_number over the
    * vocabulary-bounded candidate set. Emits (surface form, entity,
    * distance, form occurrences, entity prior).
    *
    * Scale shape: distinct-word dictionary (vocabulary-bounded) + the
    * |G|-bounded entity side explode into len+1 variants each; the join
    * keys on the variant hash; everything downstream is candidate-bounded.
    * The prior reads the pinned [[entityDocs]] scan (shared with kg1/kg2). */
  /** The linking core over any (w, n_occ) form table and (entity, prior)
    * catalog — exposed for spec fixtures that exercise the fuzzy and
    * disambiguation paths the clean synthetic corpus never hits. */
  /** Deletion-neighborhood explode (FastSS depth 1): each row fans out to
    * len+1 variant rows under column `v`. Shared by el1's batch core and
    * the streaming candidate-generation face. */
  private[graft] def variantExplode(df: DataFrame, c: String): DataFrame =
    df.select(col("*"), explode(concat(array(col(c)), expr(
      s"transform(sequence(1, length($c)), i -> concat(substring($c, 1, i - 1), substring($c, i + 1, length($c))))")))
      .as("v"))

  private[graft] def mentionLinkCore(words: DataFrame, ents: DataFrame): DataFrame = {
    val cand = variantExplode(words, "w")
      .join(variantExplode(ents, "entity"), Seq("v"))
      .select("w", "n_occ", "entity", "prior").distinct()
      .withColumn("dist", levenshtein(col("w"), col("entity")))
      .filter(col("dist") <= 1)
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("w").orderBy(col("dist"), desc("prior"), col("entity"))
    cand.withColumn("rn", row_number().over(rk))
      .filter(col("rn") === 1)
      .select("w", "entity", "dist", "n_occ", "prior")
      .orderBy("w")
  }

  def el1MentionLink(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n_occ"))
    val prior = entityDocs(s, dir).groupBy("entity").agg(count(lit(1)).as("prior"))
    mentionLinkCore(words, prior.filter(!col("entity").contains(" ")))
  }

  val el1MentionLinkSql: String =
    s"""WITH $entityDocsSql,
       |words AS (
       |  SELECT w, COUNT(*) AS n_occ FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE len(w) > 0 GROUP BY w),
       |prior AS (SELECT entity, COUNT(*) AS prior FROM ed GROUP BY entity),
       |ents AS (SELECT * FROM prior WHERE entity NOT LIKE '% %'),
       |wv AS (SELECT w, n_occ, unnest(list_prepend(w,
       |  list_transform(range(1, len(w) + 1), i -> substr(w, 1, i - 1) || substr(w, i + 1)))) AS v FROM words),
       |ev AS (SELECT entity, prior, unnest(list_prepend(entity,
       |  list_transform(range(1, len(entity) + 1), i -> substr(entity, 1, i - 1) || substr(entity, i + 1)))) AS v FROM ents),
       |cand AS (
       |  SELECT DISTINCT w, n_occ, entity, prior FROM wv JOIN ev USING (v)),
       |ver AS (SELECT w, n_occ, entity, prior, levenshtein(w, entity) AS dist
       |  FROM cand WHERE levenshtein(w, entity) <= 1),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY w
       |  ORDER BY dist, prior DESC, entity) AS rn FROM ver)
       |SELECT w, entity, CAST(dist AS INT) AS dist, CAST(n_occ AS BIGINT) AS n_occ,
       |  CAST(prior AS BIGINT) AS prior
       |FROM rk WHERE rn = 1 ORDER BY w""".stripMargin

  /** Context-scored candidate choice over explicit frames — exposed for the
    * spec fixture that proves context OVERRIDES prior (the el2 payoff the
    * unambiguous synthetic corpus cannot exhibit). Per (doc, surface form):
    * candidates rank by (distance asc, context-coherence desc, prior desc,
    * entity); context-coherence = Σ NPMI to the doc's OTHER entities. */
  private[graft] def contextLinkCore(mentions: DataFrame, cands: DataFrame,
      edges: DataFrame, context: DataFrame): DataFrame = {
    val undirected = edges.select(col("e1").as("ea"), col("e2").as("eb"), col("npmi_e6"))
      .union(edges.select(col("e2").as("ea"), col("e1").as("eb"), col("npmi_e6")))
    val ctx = mentions.join(cands, Seq("w"))
      .join(context.select(col("doc_id"), col("entity").as("other")), Seq("doc_id"))
      .filter(col("other") =!= col("entity"))
      .join(undirected, col("entity") === col("ea") && col("other") === col("eb"), "left")
      .groupBy("doc_id", "w", "entity", "dist", "prior")
      .agg(coalesce(sum("npmi_e6"), lit(0L)).as("ctx_e6"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "w")
      .orderBy(col("dist"), desc("ctx_e6"), desc("prior"), col("entity"))
    ctx.withColumn("rn", row_number().over(rk)).filter(col("rn") === 1)
      .select("doc_id", "w", "entity", "dist", "ctx_e6", "prior")
      .orderBy("doc_id", "w")
  }

  /** el2_context_score — entity-coherence scoring, the CONTEXT signal of
    * entity disambiguation (Milne & Witten 2008 relatedness, the standard
    * second feature after prior in every EL system): for each document and
    * each entity matched in it, the sum of kg1 NPMI edge scores to the
    * document's OTHER matched entities, plus the count of co-present
    * entities. High coherence = the entity fits its company; an EL system
    * ranks ambiguous candidates by exactly this number (the decision rule
    * itself is [[contextLinkCore]], fixture-proven in R12QueriesSpec since
    * the clean corpus has no ambiguous surface forms).
    *
    * Scale shape: the pinned [[entityDocs]] scan; the per-doc entity
    * self-join fans out ≤|G| per doc; the NPMI lookup joins the
    * |G|²-bounded kg1 edge frame; rollup keys are (doc, entity). */
  def el2ContextScore(s: SparkSession, dir: String): DataFrame = {
    val ed = entityDocs(s, dir)
    val edges = kg1EntityGraph(s, dir).select("e1", "e2", "npmi_e6")
    val undirected = edges.select(col("e1").as("entity"), col("e2").as("other"), col("npmi_e6"))
      .union(edges.select(col("e2").as("entity"), col("e1").as("other"), col("npmi_e6")))
    ed.join(ed.select(col("doc_id"), col("entity").as("other")), Seq("doc_id"))
      .filter(col("entity") =!= col("other"))
      .join(undirected, Seq("entity", "other"), "left")
      .groupBy("doc_id", "entity")
      .agg(count(lit(1)).as("n_ctx"),
        coalesce(sum("npmi_e6"), lit(0L)).as("ctx_npmi_e6"))
      .orderBy("doc_id", "entity")
  }

  val el2ContextScoreSql: String =
    s"""WITH $entityDocsSql,
       |nd AS (SELECT COUNT(*) AS nd FROM documents),
       |ent AS (SELECT entity, COUNT(*) AS n_docs FROM ed GROUP BY entity),
       |co AS (
       |  SELECT a.entity AS e1, b.entity AS e2, COUNT(*) AS n_co
       |  FROM ed a JOIN ed b ON a.doc_id = b.doc_id AND a.entity < b.entity
       |  GROUP BY a.entity, b.entity),
       |npmi AS (
       |  SELECT e1, e2,
       |    CASE WHEN n_co = nd THEN 1000000
       |    ELSE CAST(ROUND(1e6 * (ln((CAST(n_co AS DOUBLE) / nd) /
       |      ((CAST(ea.n_docs AS DOUBLE) / nd) * (CAST(eb.n_docs AS DOUBLE) / nd)))
       |      / -ln(CAST(n_co AS DOUBLE) / nd))) AS BIGINT) END AS npmi_e6
       |  FROM co JOIN ent ea ON ea.entity = co.e1 JOIN ent eb ON eb.entity = co.e2
       |  CROSS JOIN nd),
       |und AS (SELECT e1 AS entity, e2 AS other, npmi_e6 FROM npmi
       |  UNION ALL SELECT e2, e1, npmi_e6 FROM npmi),
       |pairs AS (
       |  SELECT a.doc_id, a.entity, b.entity AS other
       |  FROM ed a JOIN ed b ON a.doc_id = b.doc_id AND a.entity <> b.entity)
       |SELECT p.doc_id, p.entity, COUNT(*) AS n_ctx,
       |  CAST(COALESCE(SUM(u.npmi_e6), 0) AS BIGINT) AS ctx_npmi_e6
       |FROM pairs p LEFT JOIN und u ON u.entity = p.entity AND u.other = p.other
       |GROUP BY p.doc_id, p.entity ORDER BY p.doc_id, p.entity""".stripMargin

  /** kg4_entity_neighbors — the "related entities" serving query every KG
    * product ships: per entity, its top-3 neighbors by NPMI association
    * (ties → neighbor name). Reads kg1's edge frame undirected, so the
    * relation is symmetric-by-construction; the rank window partitions the
    * |G|²-bounded edge set (never corpus-proportional — the PlanGateSpec
    * small-key-window rule is satisfied by the graph contract). */
  def kg4EntityNeighbors(s: SparkSession, dir: String): DataFrame = {
    val edges = kg1EntityGraph(s, dir).select("e1", "e2", "npmi_e6")
    val und = edges.select(col("e1").as("entity"), col("e2").as("neighbor"), col("npmi_e6"))
      .union(edges.select(col("e2").as("entity"), col("e1").as("neighbor"), col("npmi_e6")))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("entity").orderBy(desc("npmi_e6"), col("neighbor"))
    und.withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= 3)
      .select("entity", "rank", "neighbor", "npmi_e6")
      .orderBy("entity", "rank")
  }

  val kg4EntityNeighborsSql: String =
    s"""WITH $entityDocsSql,
       |nd AS (SELECT COUNT(*) AS nd FROM documents),
       |ent AS (SELECT entity, COUNT(*) AS n_docs FROM ed GROUP BY entity),
       |co AS (
       |  SELECT a.entity AS e1, b.entity AS e2, COUNT(*) AS n_co
       |  FROM ed a JOIN ed b ON a.doc_id = b.doc_id AND a.entity < b.entity
       |  GROUP BY a.entity, b.entity),
       |npmi AS (
       |  SELECT e1, e2,
       |    CASE WHEN n_co = nd THEN 1000000
       |    ELSE CAST(ROUND(1e6 * (ln((CAST(n_co AS DOUBLE) / nd) /
       |      ((CAST(ea.n_docs AS DOUBLE) / nd) * (CAST(eb.n_docs AS DOUBLE) / nd)))
       |      / -ln(CAST(n_co AS DOUBLE) / nd))) AS BIGINT) END AS npmi_e6
       |  FROM co JOIN ent ea ON ea.entity = co.e1 JOIN ent eb ON eb.entity = co.e2
       |  CROSS JOIN nd),
       |und AS (SELECT e1 AS entity, e2 AS neighbor, npmi_e6 FROM npmi
       |  UNION ALL SELECT e2, e1, npmi_e6 FROM npmi),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY entity
       |  ORDER BY npmi_e6 DESC, neighbor) AS rank FROM und)
       |SELECT entity, CAST(rank AS INT) AS rank, neighbor, npmi_e6
       |FROM rk WHERE rank <= 3 ORDER BY entity, rank""".stripMargin

  /** Build-if-absent the persisted knowledge graph (kg1's scored edge
    * frame) and return its home — the third persisted serving family
    * after the IVF cells (ss2b/mm6) and the postings (ir6b/ir9): KG
    * products build the graph OFFLINE from the corpus and serve lookups
    * from the artifact. The graph is |G|²-bounded so one parquet file
    * suffices at any corpus size (the artifact scales with the GAZETTEER,
    * not the corpus; a lookup-heavy deployment would additionally bucket
    * it by entity). */
  private[queries] def ensureKgIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    import graft.operators.PersistedIndex
    PersistedIndex.ensure("kg_index", dir,
      PersistedIndex.tableFingerprint(dir, "documents")) { tmp =>
      kg1EntityGraph(s, dir)
        .write.mode("overwrite").parquet(tmp.resolve("edges").toString)
    }
  }

  /** kg4b_persisted_neighbors — kg4 served from the PERSISTED graph: the
    * probe plan reads ONLY the edges artifact (zero corpus scan,
    * spec-asserted), results bit-identical to kg4 — the persisted detour
    * is invisible to the answer, the ss2b/ir6b convention. */
  def kg4bPersistedNeighbors(s: SparkSession, dir: String): DataFrame = {
    val home = ensureKgIndex(s, dir)
    val edges = graft.operators.PersistedIndex.artifactFrame(s, home, "edges")
      .select("e1", "e2", "npmi_e6")
    val und = edges.select(col("e1").as("entity"), col("e2").as("neighbor"), col("npmi_e6"))
      .union(edges.select(col("e2").as("entity"), col("e1").as("neighbor"), col("npmi_e6")))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("entity").orderBy(desc("npmi_e6"), col("neighbor"))
    und.withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= 3)
      .select("entity", "rank", "neighbor", "npmi_e6")
      .orderBy("entity", "rank")
  }

  /** kg5_twohop_discovery — 2-hop LINK DISCOVERY over the persisted graph,
    * the standard KG inference query (literature-based discovery, the
    * Swanson ABC shape): entity pairs with NO positive direct association
    * that are nonetheless connected through a shared strong neighbor are
    * the graph's candidate MISSING LINKS. Edges are kg1's NPMI scores cut
    * at > 0 (associated more than chance — below that an edge is noise);
    * a 2-hop path e—m—t scores as the BOTTLENECK `least(npmi(e,m),
    * npmi(m,t))` (a chain is only as strong as its weaker link), a pair
    * aggregates as the best path with the supporting-path count, and pairs
    * holding a positive DIRECT edge are anti-joined out — what remains is
    * ranked top-3 per entity. Serving shape (the kg4b convention): the
    * probe reads ONLY the persisted edge artifact, zero corpus scan
    * (spec-asserted). Scale shape: the middle-node equi-join fans out as
    * Σ_m deg(m)² ≤ |E|·max-deg — gazetteer-bounded like every kg frame,
    * never corpus-proportional, and fully distributed (no collect). */
  def kg5TwohopDiscovery(s: SparkSession, dir: String): DataFrame = {
    val home = ensureKgIndex(s, dir)
    val pos = graft.operators.PersistedIndex.artifactFrame(s, home, "edges")
      .filter(col("npmi_e6") > 0).select("e1", "e2", "npmi_e6")
    val und = pos.select(col("e1").as("ea"), col("e2").as("eb"), col("npmi_e6"))
      .union(pos.select(col("e2").as("ea"), col("e1").as("eb"), col("npmi_e6")))
    val hop1 = und.select(col("ea").as("entity"), col("eb").as("mid"), col("npmi_e6").as("w1"))
    val hop2 = und.select(col("ea").as("mid"), col("eb").as("target"), col("npmi_e6").as("w2"))
    val two = hop1.join(hop2, Seq("mid"))
      .filter(col("target") =!= col("entity"))
      .select(col("entity"), col("target"), least(col("w1"), col("w2")).as("path_e6"))
    val agg = two.groupBy("entity", "target")
      .agg(max("path_e6").as("score_e6"), count(lit(1)).as("n_paths"))
    val disc = agg.join(
      und.select(col("ea").as("entity"), col("eb").as("target")),
      Seq("entity", "target"), "left_anti")
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("entity").orderBy(desc("score_e6"), desc("n_paths"), col("target"))
    disc.withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= 3)
      .select("entity", "rank", "target", "n_paths", "score_e6")
      .orderBy("entity", "rank")
  }

  val kg5TwohopDiscoverySql: String =
    s"""WITH $entityDocsSql,
       |nd AS (SELECT COUNT(*) AS nd FROM documents),
       |ent AS (SELECT entity, COUNT(*) AS n_docs FROM ed GROUP BY entity),
       |co AS (
       |  SELECT a.entity AS e1, b.entity AS e2, COUNT(*) AS n_co
       |  FROM ed a JOIN ed b ON a.doc_id = b.doc_id AND a.entity < b.entity
       |  GROUP BY a.entity, b.entity),
       |npmi AS (
       |  SELECT e1, e2,
       |    CASE WHEN n_co = nd THEN 1000000
       |    ELSE CAST(ROUND(1e6 * (ln((CAST(n_co AS DOUBLE) / nd) /
       |      ((CAST(ea.n_docs AS DOUBLE) / nd) * (CAST(eb.n_docs AS DOUBLE) / nd)))
       |      / -ln(CAST(n_co AS DOUBLE) / nd))) AS BIGINT) END AS npmi_e6
       |  FROM co JOIN ent ea ON ea.entity = co.e1 JOIN ent eb ON eb.entity = co.e2
       |  CROSS JOIN nd),
       |pos AS (SELECT * FROM npmi WHERE npmi_e6 > 0),
       |und AS (SELECT e1 AS ea, e2 AS eb, npmi_e6 FROM pos
       |  UNION ALL SELECT e2, e1, npmi_e6 FROM pos),
       |two AS (
       |  SELECT x.ea AS entity, y.eb AS target, LEAST(x.npmi_e6, y.npmi_e6) AS path_e6
       |  FROM und x JOIN und y ON x.eb = y.ea AND y.eb <> x.ea),
       |agg AS (SELECT entity, target, MAX(path_e6) AS score_e6,
       |    CAST(COUNT(*) AS BIGINT) AS n_paths
       |  FROM two GROUP BY entity, target),
       |disc AS (SELECT a.entity, a.target, a.n_paths, a.score_e6 FROM agg a
       |  WHERE NOT EXISTS (SELECT 1 FROM und u
       |    WHERE u.ea = a.entity AND u.eb = a.target)),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY entity
       |  ORDER BY score_e6 DESC, n_paths DESC, target) AS rank FROM disc)
       |SELECT entity, CAST(rank AS INT) AS rank, target, n_paths, score_e6
       |FROM rk WHERE rank <= 3 ORDER BY entity, rank""".stripMargin

  /** Build-if-absent the INCREMENTAL KG base artifact: the sufficient
    * statistics of kg1's graph for documents at-or-below a recorded
    * watermark (last id-range decile = "arrived after the snapshot", the
    * ir10/dd18 convention) — per-pair co-document counts, per-entity
    * document counts, and the base document census. Counts, not scores:
    * NPMI is a function of counts, and counts over disjoint document
    * segments merge by exact Long addition — which is what makes the
    * incremental face below bit-exact. */
  private def kgFp(dir: String): String =
    "v2_" + graft.operators.PersistedIndex.tableFingerprint(dir, "documents")

  private[queries] def ensureKgDeltaIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    import graft.operators.PersistedIndex
    // v2: adds the per-doc `ed` entity table — the artifact kg7's
    // tombstone subtraction reads so dead docs are never re-matched
    PersistedIndex.ensure("kg_delta_index", dir, kgFp(dir)) { tmp =>
      val split = PersistedIndex.idWatermark(t(s, dir, "documents"), "doc_id")
      val fm = FastMatch.matcher(gazetteer)
      val ed = t(s, dir, "documents").filter(col("doc_id") <= split)
        .select(col("doc_id"), explode(fm(col("text"))).as("m"))
        .select(col("doc_id"), col("m.matched").as("entity")).distinct()
        .localCheckpoint(true)
      PersistedIndex.writeArtifacts(
        () => ed.write.mode("overwrite").parquet(tmp.resolve("ed").toString),
        () => ed.as("a").join(ed.as("b"), Seq("doc_id"))
          .filter(col("a.entity") < col("b.entity"))
          .groupBy(col("a.entity").as("e1"), col("b.entity").as("e2"))
          .agg(count(lit(1)).as("n_co"))
          .write.mode("overwrite").parquet(tmp.resolve("co").toString),
        () => ed.groupBy("entity").agg(count(lit(1)).as("n_docs"))
          .write.mode("overwrite").parquet(tmp.resolve("ent").toString),
        () => t(s, dir, "documents").filter(col("doc_id") <= split)
          .agg(count(lit(1)).as("nd"))
          .withColumn("split_id", lit(split))
          .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
    }
  }

  /** kg6_delta_graph — INCREMENTAL graph maintenance: kg1 computed from the
    * persisted base sufficient statistics plus a delta-only match scan.
    * The probe never re-matches the base corpus — the only documents access
    * carries a pushed `doc_id > split` range predicate (the ir10/dd18
    * shape), and the per-segment counts merge by exact Long sums (document
    * segments are disjoint, so co-occurrence is additive). NPMI is then
    * evaluated over the merged counts with kg1's own arithmetic, making the
    * answer bit-equal to a full rebuild — the oracle IS kg1's SQL, and
    * background compaction (folding the delta's counts into the next
    * snapshot) can never change results. This closes the incremental face
    * for the third persisted family: postings (ir10), LSH (dd18), KG here. */
  def kg6DeltaGraph(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, KgMaintenance, Appends)

  /** The KG family's change-set merge: the post-change (ed, co, ent, nd)
    * frames of `home` once the `dead` docs leave and the `fresh`
    * (doc_id, text) rows enter. Dead docs' entity sets come from the
    * persisted per-doc `ed` table (never re-matched); only the fresh rows
    * meet the Aho-Corasick matcher. The three statistic families — per-pair
    * co counts, per-entity doc counts, the census — merge by exact Long
    * subtract/add over disjoint doc sets, and a pair or entity whose count
    * reaches 0 drops out, as a rebuild would never emit it. The `nd`
    * subtraction assumes dead ids were in the served corpus, which the
    * feed op contract ('a' = never-served doc) guarantees. [[kgServe]]
    * scores these frames and [[foldKgArtifacts]] writes them. */
  private def mergeKg(s: SparkSession, home: java.nio.file.Path, dead: DataFrame,
      fresh: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.operators.{CdcRules, PersistedIndex}
    val ndB = PersistedIndex.statsRow(s, home).getAs[Long]("nd")
    val edBase = PersistedIndex.artifactFrame(s, home, "ed")
    val edDead = CdcRules.pinDerived(s, dead, edBase.join(dead, Seq("doc_id"), "left_semi"))
    val fm = FastMatch.matcher(gazetteer)
    val edF = CdcRules.pinDerived(s, fresh,
      fresh.select(col("doc_id"), explode(fm(col("text"))).as("m"))
        .select(col("doc_id"), col("m.matched").as("entity")).distinct())
    def coOf(ed: DataFrame, as: String) = ed.as("a").join(ed.as("b"), Seq("doc_id"))
      .filter(col("a.entity") < col("b.entity"))
      .groupBy(col("a.entity").as("e1"), col("b.entity").as("e2"))
      .agg(count(lit(1)).as(as))
    val co = PersistedIndex.artifactFrame(s, home, "co")
      .join(coOf(edDead, "n_co_x"), Seq("e1", "e2"), "full_outer")
      .join(coOf(edF, "n_co_f"), Seq("e1", "e2"), "full_outer")
      .select(col("e1"), col("e2"),
        (coalesce(col("n_co"), lit(0L)) - coalesce(col("n_co_x"), lit(0L)) +
          coalesce(col("n_co_f"), lit(0L))).as("n_co"))
      .filter(col("n_co") > 0)
    val ent = PersistedIndex.artifactFrame(s, home, "ent")
      .join(edDead.groupBy("entity").agg(count(lit(1)).as("n_docs_x")),
        Seq("entity"), "full_outer")
      .join(edF.groupBy("entity").agg(count(lit(1)).as("n_docs_f")),
        Seq("entity"), "full_outer")
      .select(col("entity"),
        (coalesce(col("n_docs"), lit(0L)) - coalesce(col("n_docs_x"), lit(0L)) +
          coalesce(col("n_docs_f"), lit(0L))).as("n_docs"))
      .filter(col("n_docs") > 0)
    val nd = dead.agg(count(lit(1)).as("n_x"))
      .crossJoin(fresh.agg(count(lit(1)).as("n_f")))
      .select((lit(ndB) - col("n_x") + col("n_f")).as("nd"))
    (edBase.join(dead, Seq("doc_id"), "left_anti").unionByName(edF), co, ent, nd)
  }

  /** The KG serve: kg1's NPMI over the [[mergeKg]] frames of the
    * persisted sufficient statistics plus a change set — the fold writes
    * the frames this serve merges, so the answer is bit-equal to kg1 over
    * the post-change corpus. kg6 passes (∅, appends); kg7 the
    * [[graft.operators.CdcRules]] change set; the expunged serve (∅, ∅)
    * against a CDC-folded generation. */
  private def kgServe(s: SparkSession, home: java.nio.file.Path,
      dead: DataFrame, fresh: DataFrame): DataFrame = {
    val (_, co, ent, nd) = mergeKg(s, home, dead, fresh)
    val d = DoubleType
    val (pxy, px, py) = (
      col("n_co").cast(d) / col("nd").cast(d),
      col("n_e1").cast(d) / col("nd").cast(d),
      col("n_e2").cast(d) / col("nd").cast(d))
    co.crossJoin(broadcast(nd))
      .join(ent.select(col("entity").as("e1"), col("n_docs").as("n_e1")), Seq("e1"))
      .join(ent.select(col("entity").as("e2"), col("n_docs").as("n_e2")), Seq("e2"))
      .withColumn("npmi_e6",
        when(col("n_co") === col("nd"), lit(1000000L)).otherwise(
          round(lit(1e6) * (log(pxy / (px * py)) / -log(pxy))).cast(LongType)))
      .select("e1", "e2", "n_co", "n_e1", "n_e2", "npmi_e6")
      .orderBy(desc("npmi_e6"), col("e1"), col("e2"))
  }

  /** kg7_tombstone_graph — tombstone/UPDATE-aware KG maintenance, ir14's
    * CDC semantics on the graph family ([[graft.operators.CdcRules]]):
    * deletes subtract their entity contributions, updates (re-crawled
    * with token order REVERSED — multi-word entities break, single-word
    * entities survive) are tombstone + re-match, appends are
    * kg6's delta. The subtraction reads the persisted per-doc `ed` table
    * (the v2 artifact) — dead docs are NEVER re-matched; only updated +
    * delta text meets the Aho-Corasick matcher at serve time. All three
    * statistic families (per-pair co counts, per-entity doc counts, the
    * census) merge by exact Long sums over disjoint doc sets, so the
    * answer is bit-equal to kg1 over the post-change corpus (the oracle);
    * pairs whose merged count reaches 0 drop out exactly as kg1 never
    * would have emitted them. */
  def kg7TombstoneGraph(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, KgMaintenance, Tombstones)

  /** The KG family's fold: it writes the [[mergeKg]] frames — the ones
    * [[kgServe]] scores — as a new generation. Only the fresh rows meet
    * the matcher; base statistics are copied from parquet, so an append
    * fold is answer-invariant by kg6's additive-counts contract. */
  private[graft] def foldKgArtifacts(s: SparkSession, tmp: java.nio.file.Path,
      cur: java.nio.file.Path, dead: DataFrame, fresh: DataFrame, split: Long): Unit = {
    val (ed, co, ent, nd) = mergeKg(s, cur, dead, fresh)
    graft.operators.PersistedIndex.writeArtifacts(
      () => ed.write.mode("overwrite").parquet(tmp.resolve("ed").toString),
      () => co.write.mode("overwrite").parquet(tmp.resolve("co").toString),
      () => ent.write.mode("overwrite").parquet(tmp.resolve("ent").toString),
      () => nd.withColumn("split_id", lit(split))
        .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
  }

  /** The KG family's hooks into the streaming maintenance loop: probe =
    * the kg9 feed face's NPMI query, fold = [[foldKgArtifacts]]. */
  private[graft] object KgMaintenance extends IndexMaintenance.DocFamily {
    val name = "kg"
    val kind = "kg_delta_index"
    def fingerprint(dir: String): String = kgFp(dir)
    def ensureBase(s: SparkSession, dir: String): java.nio.file.Path =
      ensureKgDeltaIndex(s, dir)
    def baseCount(s: SparkSession, base: java.nio.file.Path): Long =
      graft.operators.PersistedIndex.statsRow(s, base).getAs[Long]("nd")
    def foldInto(s: SparkSession, tmp: java.nio.file.Path, base: java.nio.file.Path,
        dead: DataFrame, fresh: DataFrame, split: Long): Unit =
      foldKgArtifacts(s, tmp, base, dead, fresh, split)
    def serve(s: SparkSession, dir: String, base: java.nio.file.Path,
        dead: DataFrame, fresh: DataFrame): DataFrame =
      kgServe(s, base, dead, fresh)
  }

  /** kg8_expunged_graph — the post-compaction face of kg7: fold the change
    * set, then serve NPMI straight from the expunged statistics (empty
    * tombstone/fresh frames; shares kg7's oracle). */
  def kg8ExpungedGraph(s: SparkSession, dir: String): DataFrame = {
    IndexMaintenance.compactCdc(s, dir, KgMaintenance)
    kg7TombstoneGraph(s, dir)
  }

  /** kg9_feed_graph — the feed-table face of kg7 (the ir15 contract on
    * the graph family): [[kgServe]] consumes only the
    * [[graft.operators.CdcRules.feedFrames]] split of an explicit
    * (doc_id, op, payload) table; the feed's reversedTokens 'u' payload
    * is exactly kg7's update transform, so kg9 ≡ kg7 and the oracle is
    * shared. */
  def kg9FeedGraph(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, KgMaintenance, Feed)

  /** kg1's SQL replayed over a POST-CHANGE corpus CTE (the ir14/dd20
    * oracle convention) — shared by the kg7/kg8/kg9 family and the sized
    * kg10 face, which differ only in the corpus CTE prefix. */
  private def kgGraphSqlOver(corpusCtes: String, corpusName: String): String = {
    val edChanged = entityDocsSql.replace("FROM documents", s"FROM $corpusName")
    s"""WITH $corpusCtes,
       |$edChanged,
       |nd AS (SELECT COUNT(*) AS nd FROM $corpusName),
       |ent AS (SELECT entity, COUNT(*) AS n_docs FROM ed GROUP BY entity),
       |co AS (
       |  SELECT a.entity AS e1, b.entity AS e2, COUNT(*) AS n_co
       |  FROM ed a JOIN ed b ON a.doc_id = b.doc_id AND a.entity < b.entity
       |  GROUP BY a.entity, b.entity)
       |SELECT e1, e2, CAST(n_co AS BIGINT) AS n_co,
       |  CAST(ea.n_docs AS BIGINT) AS n_e1, CAST(eb.n_docs AS BIGINT) AS n_e2,
       |  CASE WHEN n_co = nd THEN 1000000
       |  ELSE CAST(ROUND(1e6 * (ln((CAST(n_co AS DOUBLE) / nd) /
       |    ((CAST(ea.n_docs AS DOUBLE) / nd) * (CAST(eb.n_docs AS DOUBLE) / nd)))
       |    / -ln(CAST(n_co AS DOUBLE) / nd))) AS BIGINT) END AS npmi_e6
       |FROM co JOIN ent ea ON ea.entity = co.e1 JOIN ent eb ON eb.entity = co.e2
       |CROSS JOIN nd ORDER BY npmi_e6 DESC, e1, e2""".stripMargin
  }

  val kg7TombstoneGraphSql: String = kgGraphSqlOver(
    graft.operators.CdcRules.sqlCorpusCtes("kg7corpus",
      graft.operators.CdcRules.sqlReversedTokens("d.text")), "kg7corpus")

  /** kg10_sized_graph — kg9 at a CRAWL-SIZED batch (VERDICT r17 #5, the
    * dd23/mm11/ir22 contract on the graph family): the feed generator
    * takes the [[graft.operators.CdcRules.sizedFeed]] batch bound, so the
    * Aho-Corasick re-match and the count subtraction/addition legs read
    * O(window) fresh rows no matter the corpus size. At the correctness
    * SFs the window covers the whole corpus and kg10 ≡ kg7/kg9. */
  def kg10SizedGraph(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, KgMaintenance, SizedFeed)

  val kg10SizedGraphSql: String = kgGraphSqlOver(
    graft.operators.CdcRules.sqlSizedCorpusCtes("kg10corpus",
      graft.operators.CdcRules.sqlReversedTokens("d.text")), "kg10corpus")

  /** el3's minimum corpus support for a FUZZY (distance-1) link: below
    * this document prior, a typo match is more likely noise than alias. */
  private[graft] val NilMinPrior = 5L

  /** The NIL decision rule over explicit (w, n_occ) and (entity, prior)
    * frames — exposed for the fixture spec (the clean corpus never
    * exercises the ambiguous/weak arms, the el1/el2 situation). Rule, in
    * order: no candidate → nil/no_candidate; two candidates at the SAME
    * distance whose priors are within 2× → nil/ambiguous (no clear
    * winner); exact match → link/exact; distance-1 with prior ≥
    * [[NilMinPrior]] → link/fuzzy; else nil/weak_prior. All comparisons
    * integer. The best candidate's fields are kept on NIL rows too — a
    * production NIL gate logs WHAT it rejected. */
  private[graft] def nilGateCore(words: DataFrame, ents: DataFrame): DataFrame = {
    val cand = variantExplode(words.select("w"), "w")
      .join(variantExplode(ents, "entity"), Seq("v"))
      .select("w", "entity", "prior").distinct()
      .withColumn("dist", levenshtein(col("w"), col("entity")))
      .filter(col("dist") <= 1)
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("w").orderBy(col("dist"), desc("prior"), col("entity"))
    val ranked = cand.withColumn("rn", row_number().over(rk)).filter(col("rn") <= 2)
    val c1 = ranked.filter(col("rn") === 1).select(col("w"), col("entity"),
      col("dist"), col("prior"))
    val c2 = ranked.filter(col("rn") === 2).select(col("w"),
      col("dist").as("dist2"), col("prior").as("prior2"))
    val reason = when(col("entity").isNull, "no_candidate")
      .when(col("dist2").isNotNull && col("dist2") === col("dist") &&
        col("prior2") * 2 >= col("prior"), "ambiguous")
      .when(col("dist") === 0, "exact")
      .when(col("prior") >= NilMinPrior, "fuzzy")
      .otherwise("weak_prior")
    words.join(c1, Seq("w"), "left").join(c2, Seq("w"), "left")
      .withColumn("reason", reason)
      .withColumn("decision",
        when(col("reason").isin("exact", "fuzzy"), "link").otherwise("nil"))
      .select("w", "n_occ", "entity", "dist", "prior", "decision", "reason")
      .orderBy("w")
  }

  /** el3_nil_gate — NIL detection, the third standard EL component after
    * candidate generation (el1) and context disambiguation (el2): a real
    * linker must also decide WHEN NOT TO LINK (mentions of entities
    * outside the KB link to NIL rather than to the nearest string). Runs
    * the [[nilGateCore]] decision rule over EVERY corpus surface form —
    * the production shape, where the gate classifies all mentions, not
    * just the linkable ones — emitting the per-form verdict with the best
    * candidate's evidence attached.
    *
    * Scale shape: identical to el1 (vocabulary-bounded FastSS equi-join,
    * |G|-bounded entity side, pinned match scan for priors) plus one
    * 2-row-per-form window over the candidate-bounded ranked set. */
  def el3NilGate(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n_occ"))
    val prior = entityDocs(s, dir).groupBy("entity").agg(count(lit(1)).as("prior"))
    nilGateCore(words, prior.filter(!col("entity").contains(" ")))
  }

  val el3NilGateSql: String =
    s"""WITH $entityDocsSql,
       |words AS (
       |  SELECT w, COUNT(*) AS n_occ FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE len(w) > 0 GROUP BY w),
       |prior AS (SELECT entity, COUNT(*) AS prior FROM ed GROUP BY entity),
       |ents AS (SELECT * FROM prior WHERE entity NOT LIKE '% %'),
       |wv AS (SELECT w, unnest(list_prepend(w,
       |  list_transform(range(1, len(w) + 1), i -> substr(w, 1, i - 1) || substr(w, i + 1)))) AS v FROM words),
       |ev AS (SELECT entity, prior, unnest(list_prepend(entity,
       |  list_transform(range(1, len(entity) + 1), i -> substr(entity, 1, i - 1) || substr(entity, i + 1)))) AS v FROM ents),
       |cand AS (SELECT DISTINCT w, entity, prior FROM wv JOIN ev USING (v)),
       |ver AS (SELECT w, entity, prior, levenshtein(w, entity) AS dist
       |  FROM cand WHERE levenshtein(w, entity) <= 1),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY w
       |  ORDER BY dist, prior DESC, entity) AS rn FROM ver),
       |c1 AS (SELECT w, entity, dist, prior FROM rk WHERE rn = 1),
       |c2 AS (SELECT w, dist AS dist2, prior AS prior2 FROM rk WHERE rn = 2),
       |dec AS (
       |  SELECT wo.w, wo.n_occ, c1.entity, c1.dist, c1.prior,
       |    CASE WHEN c1.entity IS NULL THEN 'no_candidate'
       |         WHEN c2.dist2 IS NOT NULL AND c2.dist2 = c1.dist
       |              AND c2.prior2 * 2 >= c1.prior THEN 'ambiguous'
       |         WHEN c1.dist = 0 THEN 'exact'
       |         WHEN c1.prior >= $NilMinPrior THEN 'fuzzy'
       |         ELSE 'weak_prior' END AS reason
       |  FROM words wo LEFT JOIN c1 ON c1.w = wo.w LEFT JOIN c2 ON c2.w = wo.w)
       |SELECT w, CAST(n_occ AS BIGINT) AS n_occ, entity, CAST(dist AS INT) AS dist,
       |  CAST(prior AS BIGINT) AS prior,
       |  CASE WHEN reason IN ('exact', 'fuzzy') THEN 'link' ELSE 'nil' END AS decision,
       |  reason
       |FROM dec ORDER BY w""".stripMargin

  /** e2e6_entity_pipeline — the composed entity-linking serving face, end
    * to end in ONE lazy plan (the e2e1–e2e5 convention applied to the
    * kg/el family): fm1's gazetteer match (the pinned [[entityDocs]]
    * scan) → el1's FastSS candidate generation + exact-levenshtein verify
    * over the corpus vocabulary → el2's context disambiguation, where each
    * per-document mention's candidates rank by (distance, Σ kg1-NPMI
    * coherence to the doc's OTHER matched entities, corpus prior, entity).
    * Emits one linked row per (doc, mention): the annotation table an EL
    * stack serves.
    *
    * Composition discipline (the e2e3 lesson): the corpus TEXT is read
    * ZERO times in this plan — tokenization reuses the session-pinned
    * [[TextQueries.tfTable]] core (shared with ta6/ir5/ir6; its one
    * corpus explode was paid at pin time), entity presence reuses the
    * pinned match scan, and the only direct documents access is kg1's
    * zero-column count(*) footer read. Asserted in R13QueriesSpec (no
    * text-bearing documents scan in the composed plan). Unlike
    * [[contextLinkCore]] (the fixture-facing decision rule, inner-joined
    * to context by construction), mentions in docs with NO other matched
    * entity survive here with ctx_e6 = 0 — the production fallback where
    * prior decides when context is silent.
    *
    * Scale shape: vocabulary-bounded candidate generation (variant-hash
    * EQUI-join, never vocabulary×|G|), |G|²-bounded NPMI edges, and the
    * context rollup keys on (doc, mention, candidate) with ≤|G| fan-out
    * per doc — every frame is corpus-linear with bounded multipliers. */
  def e2e6EntityPipeline(s: SparkSession, dir: String): DataFrame = {
    val ed = entityDocs(s, dir)
    val prior = ed.groupBy("entity").agg(count(lit(1)).as("prior"))
    val ents = prior.filter(!col("entity").contains(" "))
    // the tokenized corpus rides the pinned tf_table core — no text scan
    val words = TextQueries.tfTable(s, dir)
      .filter(length(col("word")) > 0)
      .select(col("doc_id"), col("word").as("w"))
    val cand = variantExplode(words.select("w").distinct(), "w")
      .join(variantExplode(ents, "entity"), Seq("v"))
      .select("w", "entity", "prior").distinct()
      .withColumn("dist", levenshtein(col("w"), col("entity")))
      .filter(col("dist") <= 1)
    val mentions = words.join(cand.select("w").distinct(), Seq("w"), "left_semi")
    val edges = kg1EntityGraph(s, dir).select("e1", "e2", "npmi_e6")
    val undirected = edges.select(col("e1").as("ea"), col("e2").as("eb"), col("npmi_e6"))
      .union(edges.select(col("e2").as("ea"), col("e1").as("eb"), col("npmi_e6")))
    val ctx = mentions.join(cand, Seq("w"))
      .join(ed.select(col("doc_id"), col("entity").as("other")), Seq("doc_id"), "left")
      .join(undirected, col("entity") === col("ea") && col("other") === col("eb"), "left")
      .groupBy("doc_id", "w", "entity", "dist", "prior")
      .agg(coalesce(sum(when(col("other") =!= col("entity"), col("npmi_e6"))), lit(0L))
        .as("ctx_e6"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "w")
      .orderBy(col("dist"), desc("ctx_e6"), desc("prior"), col("entity"))
    ctx.withColumn("rn", row_number().over(rk)).filter(col("rn") === 1)
      .select("doc_id", "w", "entity", "dist", "ctx_e6", "prior")
      .orderBy("doc_id", "w")
  }

  val e2e6EntityPipelineSql: String =
    s"""WITH $entityDocsSql,
       |prior AS (SELECT entity, COUNT(*) AS prior FROM ed GROUP BY entity),
       |ents AS (SELECT * FROM prior WHERE entity NOT LIKE '% %'),
       |words AS (
       |  SELECT DISTINCT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE len(w) > 0),
       |vocab AS (SELECT DISTINCT w FROM words),
       |wv AS (SELECT w, unnest(list_prepend(w,
       |  list_transform(range(1, len(w) + 1), i -> substr(w, 1, i - 1) || substr(w, i + 1)))) AS v FROM vocab),
       |ev AS (SELECT entity, prior, unnest(list_prepend(entity,
       |  list_transform(range(1, len(entity) + 1), i -> substr(entity, 1, i - 1) || substr(entity, i + 1)))) AS v FROM ents),
       |cand AS (SELECT DISTINCT w, entity, prior FROM wv JOIN ev USING (v)),
       |ver AS (SELECT w, entity, prior, levenshtein(w, entity) AS dist
       |  FROM cand WHERE levenshtein(w, entity) <= 1),
       |mentions AS (SELECT doc_id, w FROM words WHERE w IN (SELECT w FROM ver)),
       |nd AS (SELECT COUNT(*) AS nd FROM documents),
       |ent AS (SELECT entity, COUNT(*) AS n_docs FROM ed GROUP BY entity),
       |co AS (
       |  SELECT a.entity AS e1, b.entity AS e2, COUNT(*) AS n_co
       |  FROM ed a JOIN ed b ON a.doc_id = b.doc_id AND a.entity < b.entity
       |  GROUP BY a.entity, b.entity),
       |npmi AS (
       |  SELECT e1, e2,
       |    CASE WHEN n_co = nd THEN 1000000
       |    ELSE CAST(ROUND(1e6 * (ln((CAST(n_co AS DOUBLE) / nd) /
       |      ((CAST(ea.n_docs AS DOUBLE) / nd) * (CAST(eb.n_docs AS DOUBLE) / nd)))
       |      / -ln(CAST(n_co AS DOUBLE) / nd))) AS BIGINT) END AS npmi_e6
       |  FROM co JOIN ent ea ON ea.entity = co.e1 JOIN ent eb ON eb.entity = co.e2
       |  CROSS JOIN nd),
       |und AS (SELECT e1 AS ea, e2 AS eb, npmi_e6 FROM npmi
       |  UNION ALL SELECT e2, e1, npmi_e6 FROM npmi),
       |ctx AS (
       |  SELECT m.doc_id, m.w, v.entity, v.dist, v.prior,
       |    CAST(COALESCE(SUM(CASE WHEN o.other <> v.entity THEN u.npmi_e6 END), 0) AS BIGINT) AS ctx_e6
       |  FROM mentions m JOIN ver v USING (w)
       |  LEFT JOIN (SELECT doc_id, entity AS other FROM ed) o ON o.doc_id = m.doc_id
       |  LEFT JOIN und u ON u.ea = v.entity AND u.eb = o.other
       |  GROUP BY m.doc_id, m.w, v.entity, v.dist, v.prior),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, w
       |  ORDER BY dist, ctx_e6 DESC, prior DESC, entity) AS rn FROM ctx)
       |SELECT doc_id, w, entity, CAST(dist AS INT) AS dist, ctx_e6,
       |  CAST(prior AS BIGINT) AS prior
       |FROM rk WHERE rn = 1 ORDER BY doc_id, w""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    "fm1_gazetteer_counts" -> (fm1GazetteerCounts _),
    "fm1_match_spans" -> (fm1MatchSpans _),
    "kg1_entity_graph" -> (kg1EntityGraph _),
    "kg2_entity_pagerank" -> (kg2EntityPagerank _),
    "kg3_entity_communities" -> (kg3EntityCommunities _),
    "kg4_entity_neighbors" -> (kg4EntityNeighbors _),
    "kg4b_persisted_neighbors" -> (kg4bPersistedNeighbors _),
    "kg5_twohop_discovery" -> (kg5TwohopDiscovery _),
    "kg6_delta_graph" -> (kg6DeltaGraph _),
    "kg7_tombstone_graph" -> (kg7TombstoneGraph _),
    "kg8_expunged_graph" -> (kg8ExpungedGraph _),
    "kg9_feed_graph" -> (kg9FeedGraph _),
    "kg10_sized_graph" -> (kg10SizedGraph _),
    "el1_mention_link" -> (el1MentionLink _),
    "el2_context_score" -> (el2ContextScore _),
    "el3_nil_gate" -> (el3NilGate _),
    "e2e6_entity_pipeline" -> (e2e6EntityPipeline _))

  val oracles: Map[String, String] = Map(
    "fm1_gazetteer_counts" -> fm1GazetteerCountsSql,
    "fm1_match_spans" -> fm1MatchSpansSql,
    "kg1_entity_graph" -> kg1EntityGraphSql,
    "kg2_entity_pagerank" -> kg2EntityPagerankSql,
    "kg3_entity_communities" -> kg3EntityCommunitiesSql,
    "kg4_entity_neighbors" -> kg4EntityNeighborsSql,
    // the persisted detour is invisible to the answer: kg4b ≡ kg4
    "kg4b_persisted_neighbors" -> kg4EntityNeighborsSql,
    "kg5_twohop_discovery" -> kg5TwohopDiscoverySql,
    // segment merge is invisible to the answer: kg6 ≡ kg1
    "kg6_delta_graph" -> kg1EntityGraphSql,
    // tombstone subtraction is exact: kg7 ≡ kg1 over the post-change corpus
    "kg7_tombstone_graph" -> kg7TombstoneGraphSql,
    // expunge-fold is answer-invariant by construction: kg8 ≡ kg7
    "kg8_expunged_graph" -> kg7TombstoneGraphSql,
    // the feed generator replays the same rules: kg9 ≡ kg7
    "kg9_feed_graph" -> kg7TombstoneGraphSql,
    "kg10_sized_graph" -> kg10SizedGraphSql,
    "el1_mention_link" -> el1MentionLinkSql,
    "el2_context_score" -> el2ContextScoreSql,
    "el3_nil_gate" -> el3NilGateSql,
    "e2e6_entity_pipeline" -> e2e6EntityPipelineSql)
}
