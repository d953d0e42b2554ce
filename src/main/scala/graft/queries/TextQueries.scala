package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PorterStemmer, TextFunctions => TF}
import graft.streaming.IndexMaintenance
import graft.streaming.IndexMaintenance.{Appends, Feed, SizedFeed, Tombstones}
import Q._

/** Text-operator suite over the `documents` table — the reference's
  * candidate-paragraph filter (§2.2 P1/P5), cleaning chain (§2.3 F1–F19), and
  * the generalized text-analysis layer for LLM-data pipelines: language-ID,
  * quality scoring, token counting, fingerprinting.
  *
  * All pure-`functions._` projections (whole-stage codegen, no shuffle except
  * where an aggregation is the point). Scores that mix float math are scaled
  * to BIGINT before ordering/compare (see Q scaladoc).
  */
object TextQueries {

  /** p1_candidate_filter — the reference's candidate-paragraph predicate:
    * keep texts containing "data" (`paper_processing.py:170-182`). */
  def p1CandidateFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("text").contains("data"))
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  val p1CandidateFilterSql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE text LIKE '%data%' ORDER BY doc_id""".stripMargin

  /** p5_short_filter — drop short texts (<20 tokens; reference drops CoNLL
    * sentences <2 tokens, `data_transformation.py:81-84`). */
  def p5ShortFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("n_tokens", size(tokens(col("text"))))
      .filter(col("n_tokens") >= 20)
      .select("doc_id", "n_tokens")
      .orderBy("doc_id")

  val p5ShortFilterSql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
      |WHERE len(string_split(text, ' ')) >= 20 ORDER BY doc_id""".stripMargin

  /** f1_clean_chain — F1/F4/F6–F9 cleaning chain. The corpus is already
    * clean, so deterministic noise (URL, email, digit-token) is injected
    * first, then stripped back out — exercising each regex stage. */
  def f1CleanChain(s: SparkSession, dir: String): DataFrame = {
    val noisy = concat(col("text"), lit(" http://x.co/q?id="), col("doc_id"),
      lit(" a.b@ex.com 42x7 <P> "))
    val cleaned = TF.normalizeWhitespace(
      TF.removePunctuation(
        TF.removeDigitTokens(
          TF.removeEmails(
            TF.removeUrls(TF.lowercased(noisy))))))
    t(s, dir, "documents")
      .select(col("doc_id"), cleaned.as("cleaned"))
      .orderBy("doc_id")
  }

  val f1CleanChainSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            lower(text || ' http://x.co/q?id=' || CAST(doc_id AS VARCHAR) || ' a.b@ex.com 42x7 <P> '),
      |            '(https?://\S+|www\.\S+)', '', 'g'),
      |          '\S*@\S*\s?', '', 'g'),
      |        '\S*[0-9]\S*', '', 'g'),
      |      '[^\w\s]', '', 'g'),
      |    '\s+', ' ', 'g')) AS cleaned
      |FROM documents ORDER BY doc_id""".stripMargin

  /** f21_unicode_normalize — F21's driver-checked face. Like f1, the
    * already-ASCII corpus gets deterministic noise injected first so the
    * cross-engine gate exercises REAL behavior: a decomposed e+U+0301
    * (composes to é under NFC), a zero-width space, a BOM, and a soft
    * hyphen (all stripped). Emits the normalized text plus before/after
    * char counts — norm_len < noisy_len proves the strip fired, and the
    * composed é proves both engines implement identical UAX #15
    * composition. Pure projection; zero shuffles before the output sort. */
  def f21UnicodeNormalize(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val noisy = concat(col("text"),
      lit(" cafe\u0301 \u200Bzero\uFEFFwidth so\u00ADft"))
    t(s, dir, "documents")
      .select(col("doc_id"), noisy.as("noisy"))
      .select(col("doc_id"),
        TF.unicodeNormalize(col("noisy")).as("norm_text"),
        length(col("noisy")).as("noisy_len"))
      .withColumn("norm_len", length(col("norm_text")))
      .orderBy("doc_id")
  }

  val f21UnicodeNormalizeSql: String = {
    // chr() spells the injected code points: 769 = U+0301 combining acute,
    // 8203 = U+200B ZWSP, 65279 = U+FEFF BOM, 173 = U+00AD soft hyphen
    val noisyExpr = "text || ' cafe' || chr(769) || ' ' || chr(8203) || " +
      "'zero' || chr(65279) || 'width so' || chr(173) || 'ft'"
    s"""WITH noisy AS (SELECT doc_id, $noisyExpr AS noisy FROM documents)
       |SELECT doc_id, ${TF.unicodeNormalizeSql("noisy")} AS norm_text,
       |  len(noisy) AS noisy_len,
       |  len(${TF.unicodeNormalizeSql("noisy")}) AS norm_len
       |FROM noisy ORDER BY doc_id""".stripMargin
  }

  /** f22_strip_accents — F22's driver-checked face, the f1/f21 convention:
    * deterministic accented noise (precomposed é, DECOMPOSED e+U+0301, Å,
    * ñ, ç, plus ø which must survive untouched) is appended to the ASCII
    * corpus and folded away, proving both engines implement the same
    * NFD+drop-Mn fold — including agreement on what does NOT fold. The
    * folded-vs-F21-normalized length delta isolates exactly the accent
    * marks. Pure projection, zero shuffles before the output sort. */
  def f22StripAccents(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val noisy = concat(col("text"),
      lit(" caf\u00e9 cafe\u0301 \u00c5ngstr\u00f6m se\u00f1or \u00e7a \u00f8re"))
    t(s, dir, "documents")
      .select(col("doc_id"), noisy.as("noisy"))
      .select(col("doc_id"),
        TF.stripAccents(col("noisy")).as("folded_text"),
        length(col("noisy")).as("noisy_len"))
      .withColumn("folded_len", length(col("folded_text")))
      .orderBy("doc_id")
  }

  val f22StripAccentsSql: String = {
    // chr() spells the injected code points: 233 é, 769 combining acute,
    // 197 Å, 246 ö, 241 ñ, 231 ç, 248 ø (the must-not-fold control)
    val noisyExpr = "text || ' caf' || chr(233) || ' cafe' || chr(769) || ' ' || " +
      "chr(197) || 'ngstr' || chr(246) || 'm se' || chr(241) || 'or ' || " +
      "chr(231) || 'a ' || chr(248) || 're'"
    s"""WITH noisy AS (SELECT doc_id, $noisyExpr AS noisy FROM documents)
       |SELECT doc_id, strip_accents(noisy) AS folded_text,
       |  len(noisy) AS noisy_len,
       |  len(strip_accents(noisy)) AS folded_len
       |FROM noisy ORDER BY doc_id""".stripMargin
  }

  /** f5_token_filter — tokenize (F16), drop short words (F5), remove
    * stopwords (F12), rejoin. */
  def f5TokenFilter(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "in", "to")
    t(s, dir, "documents")
      .select(col("doc_id"),
        array_join(
          TF.removeStopwords(TF.dropShortWords(tokens(col("text")), 3), stop),
          " ").as("kept"))
      .orderBy("doc_id")
  }

  val f5TokenFilterSql: String =
    """SELECT doc_id, array_to_string(
      |  list_filter(string_split(text, ' '),
      |    w -> len(w) >= 3 AND w NOT IN ('the','a','of','and','in','to')),
      |  ' ') AS kept
      |FROM documents ORDER BY doc_id""".stripMargin

  /** f13_lemmatize — rule-based lemma per token ([[TF.lemma]]: irregular
    * table + suffix rules, the documented dictionary-free approximation of
    * the reference's WordNet/spaCy lemmatization, `TM_1:cell 17`). The
    * oracle splices literally the same CASE expression — both engines run
    * identical rules. */
  def f13Lemmatize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos0", "word")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"),
        col("word"), TF.lemma("word").as("lemma"))
      .orderBy("doc_id", "pos")

  val f13LemmatizeSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS word,
       |    generate_subscripts(string_split(text,' '), 1) AS pos
       |  FROM documents)
       |SELECT doc_id, pos, word, ${TF.lemmaCaseSql("word")} AS lemma
       |FROM tok ORDER BY doc_id, pos""".stripMargin

  /** f14_porter_stem — Porter-stem every token (pure-Scala UDF; SURVEY §2.3
    * F14). DuckDB has no stemmer (the fts extension can't load offline), but
    * the corpus vocabulary is CLOSED — 31 words — so the oracle is a VALUES
    * lookup of their stems, each hand-derived from the published 1980
    * algorithm (key→kei / query→queri by step 1c (*v*)Y→I, customer→custom
    * by step 4 -er at m=2, merge/table/value lose final e by step 5a at
    * m=1 ∧ ¬*o, filter/order keep -er at m=1) and cross-checked against
    * PorterStemmerSpec's published vectors. An INNER join makes any
    * unmapped corpus word shorten the oracle string → loud hash fail, never
    * a silent pass. Upgrades the r5 rows-only check to a hash check. */
  def f14PorterStem(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        array_join(PorterStemmer.stemArrayUdf(tokens(col("text"))), " ").as("stemmed"))
      .orderBy("doc_id")

  /** The closed corpus vocabulary with hand-derived Porter stems (see
    * [[f14PorterStem]]); TextQueriesSpec asserts it agrees with the Scala
    * stemmer word-for-word, pinning oracle and implementation together. */
  val F14StemTable: Seq[(String, String)] = Seq(
    "a" -> "a", "agg" -> "agg", "batch" -> "batch", "big" -> "big",
    "column" -> "column", "customer" -> "custom", "data" -> "data",
    "dup" -> "dup", "fast" -> "fast", "filter" -> "filter",
    "group" -> "group", "hash" -> "hash", "join" -> "join", "key" -> "kei",
    "line" -> "line", "merge" -> "merg", "order" -> "order",
    "part" -> "part", "query" -> "queri", "row" -> "row", "scan" -> "scan",
    "slow" -> "slow", "small" -> "small", "sort" -> "sort",
    "spark" -> "spark", "stream" -> "stream", "table" -> "tabl",
    "the" -> "the", "value" -> "valu", "vector" -> "vector",
    "window" -> "window")

  val f14PorterStemSql: String = {
    val values = F14StemTable
      .map { case (w, st) => s"('$w','$st')" }.mkString(", ")
    s"""WITH stems(word, stem) AS (VALUES $values),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS word,
       |    generate_subscripts(string_split(text,' '), 1) AS pos
       |  FROM documents)
       |SELECT t.doc_id, string_agg(s.stem, ' ' ORDER BY t.pos) AS stemmed
       |FROM tok t JOIN stems s USING (word)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  }

  /** f15_spellcheck — corpus-frequency spell correction (F15, the
    * reference's autocorrect pass, `TM_1:cell 16`): suggestion = the
    * vocabulary word minimizing (levenshtein, −frequency, word) within
    * edit distance ≤ 2. The corpus vocabulary doubles as the dictionary —
    * misspelled probes are derived deterministically (each vocab word of
    * length > 3 with its last char dropped), since the synthetic corpus
    * contains no typos.
    *
    * Scale shape: vocabulary capped top-8192 (Vocab contract) and
    * broadcast; probe×vocab pairing is pre-filtered by a ±2 length band.
    * A 100 TB deployment swaps the band filter for a SymSpell-style
    * deletion-neighborhood equi-join (probe deletions ⋈ vocab deletions) —
    * same argmin semantics, linear candidate generation. */
  def f15Spellcheck(s: SparkSession, dir: String): DataFrame = {
    val freq = t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val vocab = freq.orderBy(desc("cnt"), col("word")).limit(8192)
    val probes = vocab.filter(length(col("word")) > 3)
      .select(expr("substring(word, 1, length(word) - 1)").as("qword")).distinct()
    probes.join(broadcast(vocab),
        abs(length(col("qword")) - length(col("word"))) <= 2)
      .withColumn("lev", levenshtein(col("qword"), col("word")))
      .filter(col("lev") <= 2)
      .groupBy("qword")
      .agg(min(struct(col("lev"), (-col("cnt")).as("nc"), col("word"))).as("b"))
      .select(col("qword"), col("b.word").as("suggestion"), col("b.lev").as("lev"))
      .orderBy("qword")
  }

  val f15SpellcheckSql: String =
    """WITH freq AS (
      |  SELECT word, COUNT(*) AS cnt
      |  FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents) t
      |  GROUP BY word),
      |vocab AS (SELECT word, cnt FROM freq ORDER BY cnt DESC, word LIMIT 8192),
      |probes AS (
      |  SELECT DISTINCT substring(word, 1, length(word) - 1) AS qword
      |  FROM vocab WHERE length(word) > 3),
      |scored AS (
      |  SELECT p.qword, v.word, v.cnt, levenshtein(p.qword, v.word) AS lev
      |  FROM probes p JOIN vocab v ON abs(length(p.qword) - length(v.word)) <= 2
      |  WHERE levenshtein(p.qword, v.word) <= 2),
      |best1 AS (SELECT qword, MIN(lev) AS blev FROM scored GROUP BY qword),
      |best2 AS (
      |  SELECT s.qword, MAX(s.cnt) AS bcnt FROM scored s
      |  JOIN best1 b ON s.qword = b.qword AND s.lev = b.blev GROUP BY s.qword)
      |SELECT s.qword, MIN(s.word) AS suggestion, MIN(s.lev) AS lev
      |FROM scored s
      |JOIN best1 b1 ON s.qword = b1.qword AND s.lev = b1.blev
      |JOIN best2 b2 ON s.qword = b2.qword AND s.cnt = b2.bcnt
      |GROUP BY s.qword ORDER BY s.qword""".stripMargin

  /** f17_deterministic_id — content-hash id (replaces reference's uuid4 per
    * its own idempotency TODO, `paper_processing.py:147-150`). */
  def f17DeterministicId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TF.deterministicId(col("doc_id").cast(StringType), col("text")).as("det_id"))
      .orderBy("doc_id")

  val f17DeterministicIdSql: String =
    """SELECT doc_id, sha256(CAST(doc_id AS VARCHAR) || chr(1) || text) AS det_id
      |FROM documents ORDER BY doc_id""".stripMargin

  /** f18_parse_stringified_list — build a Python-style stringified list from
    * the first 3 tokens, then parse it back via from_json (the reference
    * round-trips str(list) with ast.literal_eval, `ner_pipeline.py:126`). */
  def f18ParseStringifiedList(s: SparkSession, dir: String): DataFrame = {
    val stringified = concat(lit("['"),
      array_join(slice(tokens(col("text")), 1, 3), "', '"), lit("']"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        array_join(TF.parseStringifiedList(stringified), ";").as("parsed"))
      .orderBy("doc_id")
  }

  val f18ParseStringifiedListSql: String =
    """SELECT doc_id, array_to_string(
      |  list_transform(
      |    string_split(trim(('[''' || array_to_string(string_split(text,' ')[1:3], ''', ''') || ''']'), '[]'), ', '),
      |    x -> trim(x, '''')), ';') AS parsed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** f19_plus_join — '+'-joined query-string building over part names
    * (`papers_download.py:121`). */
  def f19PlusJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"), TF.plusJoined(col("p_name")).as("query_string"))
      .orderBy("p_partkey")

  val f19PlusJoinSql: String =
    """SELECT p_partkey, regexp_replace(trim(p_name), '\s+', '+', 'g') AS query_string
      |FROM part ORDER BY p_partkey""".stripMargin

  /** ta1_langid — character-bigram language-ID as add-one-smoothed naive
    * Bayes: per-language bigram profiles counted from a deterministic 80%
    * train split, each held-out document scored by Σ n_doc(bg) ·
    * ln((cnt_lang(bg)+1)/(tot_lang+V)), argmax over languages. The
    * normalization matters: an unnormalized overlap score Σ n_doc·cnt
    * (this query's first version) degenerately predicts the LARGEST
    * profile for every document — a14's confusion matrix caught exactly
    * that. Each ln term is e6-rounded BEFORE the integer multiply/sum, so
    * the score is order-independent and engine-exact. Two shuffles
    * (profile agg, score agg) + broadcast profile/totals joins — the shape
    * that scales: profiles are |langs|×|bigrams| ≪ corpus, and the
    * candidate fan-out multiplies only the held-out slice by |langs|. */
  // NOTE (round 3): sharing one per-(doc,lang,bg) pre-aggregate between the
  // profile and test sides via localCheckpoint was MEASURED SLOWER (4.8 s vs
  // 2.6 s at sf0.1): it trades two cheap map-side-combined aggregations for
  // one wide per-doc-bigram shuffle plus an eager materialization. The
  // double explode is the right plan here — profile collapses to
  // |langs|×|bigrams| in the map stage, and the test side is 1/5 of the data.
  /** One materialized prediction table per (session, dir), shared by
    * ta1/a14/a15 via [[graft.operators.SessionShare]]: the langid scoring
    * subplan (the expensive double bigram explode + candidate fan-out)
    * materializes once; each consumer still runs its own lazy downstream
    * plan. */
  /** The full (doc_id, cand_lang, score_e6) posterior table, materialized
    * once per (session, dir) — [[langIdPred]] derives the argmax winners
    * from it, and a18's ROC-AUC reads the 'en' score column directly (the
    * ranking score, not just the winner — what a threshold sweep needs). */
  private def langIdScored(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionShare.materialized(s, dir, "langid_scored") {
      val docs = t(s, dir, "documents")
      // r12: bigrams via ONE split pass + O(1) array indexing — the tok7
      // fix applied to n-grams: substring(text, i, 2) seeks the char offset
      // byte-by-byte from the string start per position (O(len²) per doc);
      // `cs` binds in its own projection so the lambda's element_at hits a
      // materialized array (CollapseProject keeps multi-use non-cheap
      // expressions un-inlined). Same grams, incl. multi-byte chars.
      val bigrams = docs
        .withColumn("cs", expr("filter(split(text, ''), c -> c <> '')"))
        .select(col("doc_id"), col("lang"),
          explode(expr("IF(size(cs) >= 2, transform(sequence(1, size(cs) - 1)," +
            " i -> concat(element_at(cs, i), element_at(cs, i + 1)))," +
            " CAST(array() AS ARRAY<STRING>))")).as("bg"))
      val profile = bigrams.filter(col("doc_id") % 5 < 4)
        .groupBy("lang", "bg").agg(count(lit(1)).as("cnt"))
        .withColumnRenamed("lang", "cand_lang")
      val totals = profile.groupBy("cand_lang").agg(sum("cnt").as("tot"))
      val vocabV = profile.select(countDistinct("bg").as("v"))
      // pre-aggregate each test doc's bigram multiset so the candidate
      // fan-out sees one row per (doc, distinct bigram), not per instance
      val test = bigrams.filter(col("doc_id") % 5 === 4)
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("n_doc"))
      val termE6 = col("n_doc") *
        round(lit(1e6) * log((coalesce(col("cnt"), lit(0L)) + lit(1)).cast(DoubleType) /
          (col("tot") + col("v")).cast(DoubleType))).cast(LongType)
      test
        .crossJoin(broadcast(totals))
        .crossJoin(broadcast(vocabV))
        .join(broadcast(profile), Seq("bg", "cand_lang"), "left_outer")
        .groupBy("doc_id", "cand_lang")
        .agg(sum(termE6).as("score_e6"))
    }

  private def langIdPred(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionShare.materialized(s, dir, "langid_pred") {
      val w = Window.partitionBy("doc_id").orderBy(desc("score_e6"), col("cand_lang"))
      langIdScored(s, dir).withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("cand_lang").as("pred_lang"), col("score_e6"))
    }

  def ta1LangId(s: SparkSession, dir: String): DataFrame =
    langIdPred(s, dir).orderBy("doc_id")

  /** ta1's CTE chain through `ranked` — shared verbatim by ta1/a14/a15 so
    * the prediction the confusion matrix scores is the prediction the
    * langid query emits. */
  private val ta1CoreSql: String =
    """bigrams AS (
      |  SELECT doc_id, lang, unnest(list_transform(range(1, len(text)), i -> substr(text, i, 2))) AS bg
      |  FROM documents),
      |profile AS (
      |  SELECT lang AS cand_lang, bg, COUNT(*) AS cnt FROM bigrams
      |  WHERE doc_id % 5 < 4 GROUP BY lang, bg),
      |totals AS (SELECT cand_lang, CAST(SUM(cnt) AS BIGINT) AS tot FROM profile GROUP BY cand_lang),
      |vocabv AS (SELECT COUNT(DISTINCT bg) AS v FROM profile),
      |test AS (
      |  SELECT doc_id, bg, COUNT(*) AS n_doc FROM bigrams
      |  WHERE doc_id % 5 = 4 GROUP BY doc_id, bg),
      |scored AS (
      |  SELECT b.doc_id, t.cand_lang,
      |    CAST(SUM(b.n_doc * CAST(ROUND(1e6 * ln(
      |      (COALESCE(p.cnt, 0) + 1) / CAST(t.tot + vv.v AS DOUBLE))) AS BIGINT)) AS BIGINT) AS score_e6
      |  FROM test b CROSS JOIN totals t CROSS JOIN vocabv vv
      |  LEFT JOIN profile p ON p.bg = b.bg AND p.cand_lang = t.cand_lang
      |  GROUP BY b.doc_id, t.cand_lang),
      |ranked AS (
      |  SELECT doc_id, cand_lang, score_e6,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, cand_lang) AS rk
      |  FROM scored)""".stripMargin

  val ta1LangIdSql: String =
    s"""WITH $ta1CoreSql
       |SELECT doc_id, cand_lang AS pred_lang, score_e6 FROM ranked WHERE rk = 1
       |ORDER BY doc_id""".stripMargin

  /** a14_confusion_matrix — the model-eval staple over ta1's predictions:
    * per (true, predicted) language cell counts on the held-out 20%. The
    * classifier under test is ta1 itself (composition, not duplication:
    * [[ta1LangId]] is reused as the prediction subplan). Tiny output
    * (|langs|²); all heavy lifting is ta1's already-audited plan plus one
    * broadcast-able join on doc_id. */
  def a14ConfusionMatrix(s: SparkSession, dir: String): DataFrame = {
    val truth = t(s, dir, "documents")
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("lang").as("true_lang"))
    langIdPred(s, dir).join(truth, Seq("doc_id"))
      .groupBy("true_lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")
  }

  val a14ConfusionMatrixSql: String =
    s"""WITH $ta1CoreSql,
       |pred AS (SELECT doc_id, cand_lang AS pred_lang FROM ranked WHERE rk = 1),
       |truth AS (SELECT doc_id, lang AS true_lang FROM documents WHERE doc_id % 5 = 4)
       |SELECT t.true_lang, p.pred_lang, COUNT(*) AS n
       |FROM pred p JOIN truth t USING (doc_id)
       |GROUP BY t.true_lang, p.pred_lang
       |ORDER BY true_lang, pred_lang""".stripMargin

  /** a15_cohens_kappa — chance-corrected agreement over a14's confusion
    * matrix: κ = (p_o − p_e)/(1 − p_e) with p_e from the row×column
    * marginal products. Every count stays an exact int64; the two divisions
    * happen once, in identical expressions on both engines, then e6-round —
    * the annotation-quality statistic an NER labeling pipeline reports
    * before trusting its annotators (here scoring ta1 against ground
    * truth).
    *
    * Honest caveat: on the synthetic corpus κ ≈ 0 — and that is the CORRECT
    * measurement: the testdata generator draws every language's text from
    * the same word distribution (verified: word-unigram naive Bayes also
    * scores exactly at chance), so no classifier can beat chance here. The
    * statistic's machinery is what's under test; a real corpus gives the
    * same plan a real κ. */
  /** a33_fleiss_kappa — Fleiss' κ (Fleiss 1971): chance-corrected
    * agreement for MORE than two raters — the annotation-ops number a15's
    * two-rater Cohen cannot give, and the one an AL loop reports when a
    * paragraph batch goes to three annotators (the reference's annotation
    * CSV workflow at panel scale). Panel: three deterministic synthetic
    * raters per document over four classes — rater r's label is the
    * detHash-derived true class, flipped to the next class on a 20%
    * detHash noise draw, so agreement is substantial-but-imperfect and
    * both engines replay every label exactly.
    *
    * Arithmetic: per-unit Σⱼn_ij² and the category totals are exact
    * integers (≤ 9 per unit), so P̄, P̄ₑ and κ are each ONE double
    * expression over exact integer sums, e6-rounded — no float
    * aggregation anywhere. Scale shape: a 3-row explode per doc (the
    * panel), two hash aggs ((doc, label) then doc / label), 1-row
    * broadcast scalars. */
  def a33FleissKappa(s: SparkSession, dir: String): DataFrame = {
    val d = DoubleType
    val labels = t(s, dir, "documents")
      .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("r"))
      .withColumn("true_c", detHash(col("doc_id"), 41) % 4)
      .withColumn("label",
        when(detHash(col("doc_id") * 3 + col("r"), 43) % 5 === 0,
          (col("true_c") + 1) % 4).otherwise(col("true_c")))
      .select("doc_id", "r", "label")
    // per-unit category counts → Σ n_ij² (integer, ≤ 9)
    val perUnit = labels.groupBy("doc_id", "label").agg(count(lit(1)).as("nij"))
      .groupBy("doc_id").agg(sum(col("nij") * col("nij")).as("sq"))
    val uAgg = perUnit.agg(count(lit(1)).as("n_units"), sum("sq").as("sum_sq"))
    val cAgg = labels.groupBy("label").agg(count(lit(1)).as("nj"))
      .agg(sum(col("nj") * col("nj")).as("sum_nj2"), sum("nj").as("n_total"))
    val nUnits = col("n_units").cast(d)
    // P̄ = Σ_i (Σ_j n_ij² − n) / (n(n−1)) / N  with n = 3 raters
    val pbar = (col("sum_sq").cast(d) - lit(3.0) * nUnits) / (lit(6.0) * nUnits)
    // P̄e = Σ_j (n_j / (3N))²
    val pe = col("sum_nj2").cast(d) / (lit(3.0) * nUnits * lit(3.0) * nUnits)
    uAgg.crossJoin(broadcast(cAgg))
      .withColumn("n_raters", lit(3))
      .withColumn("pbar_e6", round(pbar * lit(1e6)).cast(LongType))
      .withColumn("pe_e6", round(pe * lit(1e6)).cast(LongType))
      .withColumn("kappa_e6", round((pbar - pe) / (lit(1.0) - pe) * lit(1e6)).cast(LongType))
      .select("n_units", "n_raters", "pbar_e6", "pe_e6", "kappa_e6")
  }

  val a33FleissKappaSql: String =
    s"""WITH labels AS (
       |  SELECT doc_id, r,
       |    CASE WHEN ${detHashSql("doc_id * 3 + r", 43)} % 5 = 0
       |      THEN (${detHashSql("doc_id", 41)} % 4 + 1) % 4
       |      ELSE ${detHashSql("doc_id", 41)} % 4 END AS label
       |  FROM documents CROSS JOIN (SELECT unnest(range(0, 3)) AS r) rs),
       |pu AS (
       |  SELECT doc_id, CAST(SUM(nij * nij) AS BIGINT) AS sq FROM (
       |    SELECT doc_id, label, COUNT(*) AS nij FROM labels GROUP BY doc_id, label) t
       |  GROUP BY doc_id),
       |ua AS (SELECT COUNT(*) AS n_units, CAST(SUM(sq) AS BIGINT) AS sum_sq FROM pu),
       |ca AS (SELECT CAST(SUM(nj * nj) AS BIGINT) AS sum_nj2 FROM (
       |  SELECT label, COUNT(*) AS nj FROM labels GROUP BY label) t)
       |SELECT n_units, 3 AS n_raters,
       |  CAST(ROUND((CAST(sum_sq AS DOUBLE) - 3.0 * CAST(n_units AS DOUBLE))
       |    / (6.0 * CAST(n_units AS DOUBLE)) * 1e6) AS BIGINT) AS pbar_e6,
       |  CAST(ROUND(CAST(sum_nj2 AS DOUBLE)
       |    / (3.0 * CAST(n_units AS DOUBLE) * 3.0 * CAST(n_units AS DOUBLE)) * 1e6) AS BIGINT) AS pe_e6,
       |  CAST(ROUND(((CAST(sum_sq AS DOUBLE) - 3.0 * CAST(n_units AS DOUBLE))
       |      / (6.0 * CAST(n_units AS DOUBLE))
       |    - CAST(sum_nj2 AS DOUBLE) / (3.0 * CAST(n_units AS DOUBLE) * 3.0 * CAST(n_units AS DOUBLE)))
       |    / (1.0 - CAST(sum_nj2 AS DOUBLE) / (3.0 * CAST(n_units AS DOUBLE) * 3.0 * CAST(n_units AS DOUBLE)))
       |    * 1e6) AS BIGINT) AS kappa_e6
       |FROM ua CROSS JOIN ca""".stripMargin

  /** The α computation over any (doc_id, label) rating frame with possibly
    * missing ratings, exposed for spec fixtures. Contract: 2..3 ratings per
    * pairable unit (the ×2 scaling makes every coincidence contribution an
    * EXACT integer because (m_u − 1) ∈ {1, 2} divides 2); units with fewer
    * than 2 ratings drop, per Krippendorff. */
  private[graft] def krippendorffCore(labels: DataFrame): DataFrame = {
    val d = DoubleType
    // per-(unit, class) counts, per-unit size m_u; only pairable units
    val perUc = labels.groupBy("doc_id", "label").agg(count(lit(1)).as("nuc"))
    val perUnit = perUc.groupBy("doc_id")
      .agg(sum("nuc").as("m"), sum(col("nuc") * col("nuc")).as("sum_nuc2"))
      .filter(col("m") >= 2)
    // Σ_{c≠k} n_uc·n_uk = m² − Σ n_uc²; the ×2-scaled per-unit coincidence
    // mass 2·(m² − Σn_uc²)/(m−1) is exact under integer div for m ∈ {2,3}
    val uAgg = perUnit.agg(count(lit(1)).as("n_units"),
      sum(expr("(2 * (m * m - sum_nuc2)) div (m - 1)")).as("d_o2"),
      sum("m").as("n_values"))
    // margins n_c over PAIRABLE units only (the coincidence-matrix margin
    // reduces to the plain rating count: Σ_k n_uc(n_uk − δ)/(m_u−1) = n_uc)
    val cAgg = perUc.join(perUnit.select("doc_id"), Seq("doc_id"))
      .groupBy("label").agg(sum("nuc").as("nc"))
      .agg(sum(col("nc") * col("nc")).as("sum_nc2"))
    uAgg.crossJoin(broadcast(cAgg))
      .withColumn("sum_e", col("n_values") * col("n_values") - col("sum_nc2"))
      .withColumn("alpha_e6", round(lit(1e6) * (lit(1.0) -
        (col("n_values") - lit(1)).cast(d) * col("d_o2").cast(d) / lit(2.0)
          / col("sum_e").cast(d))).cast(LongType))
      .select("n_units", "n_values", "d_o2", "sum_e", "alpha_e6")
  }

  /** a34_krippendorff — Krippendorff's α (nominal; Krippendorff 2011) over
    * a panel WITH MISSING RATINGS — the agreement number a33's Fleiss κ
    * cannot give (Fleiss needs a constant rater count per unit; real
    * annotation queues never have one: annotators skip, time out, get
    * reassigned — the reference's annotation CSV has exactly this shape).
    * Panel: a33's three detHash raters over four classes with the same 20%
    * flip noise, PLUS a 1-in-5 detHash skip per (unit, rater); units left
    * with < 2 ratings drop (unpairable, per the method). α = 1 −
    * (n−1)·ΣO/ΣE over the coincidence matrix, computed WITHOUT building
    * the C×C matrix: per-unit pair mass is m² − Σ_c n_uc² and the margin
    * n_c is the plain class count over pairable units, so the whole
    * statistic is two hash aggs — the ×2 scaling keeps every contribution
    * an exact integer (m−1 ∈ {1,2} divides 2), and α is ONE e6-rounded
    * double expression over exact integers (the a33 convention).
    *
    * Scale shape: ≤3-row explode per doc → (doc, label) hash agg → doc
    * rollup + class rollup, 1-row broadcast join. Product terms n², Σn_c²
    * wrap int64 only past ~3e9 ratings; at that scale move them to the
    * internal-DECIMAL convention (a29) — outputs here are BIGINT + e6. */
  def a34Krippendorff(s: SparkSession, dir: String): DataFrame = {
    val labels = t(s, dir, "documents")
      .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("r"))
      .withColumn("true_c", detHash(col("doc_id"), 41) % 4)
      .withColumn("label",
        when(detHash(col("doc_id") * 3 + col("r"), 43) % 5 === 0,
          (col("true_c") + 1) % 4).otherwise(col("true_c")))
      // missingness: rater r skips this unit on a 1-in-5 draw (fresh salt)
      .filter(detHash(col("doc_id") * 3 + col("r"), 47) % 5 =!= 0)
      .select("doc_id", "r", "label")
    krippendorffCore(labels)
  }

  val a34KrippendorffSql: String =
    s"""WITH labels AS (
       |  SELECT doc_id, r,
       |    CASE WHEN ${detHashSql("doc_id * 3 + r", 43)} % 5 = 0
       |      THEN (${detHashSql("doc_id", 41)} % 4 + 1) % 4
       |      ELSE ${detHashSql("doc_id", 41)} % 4 END AS label
       |  FROM documents CROSS JOIN (SELECT unnest(range(0, 3)) AS r) rs
       |  WHERE ${detHashSql("doc_id * 3 + r", 47)} % 5 <> 0),
       |puc AS (SELECT doc_id, label, COUNT(*) AS nuc FROM labels GROUP BY doc_id, label),
       |pu AS (
       |  SELECT doc_id, CAST(SUM(nuc) AS BIGINT) AS m,
       |    CAST(SUM(nuc * nuc) AS BIGINT) AS sum_nuc2
       |  FROM puc GROUP BY doc_id HAVING SUM(nuc) >= 2),
       |ua AS (
       |  SELECT COUNT(*) AS n_units,
       |    CAST(SUM((2 * (m * m - sum_nuc2)) // (m - 1)) AS BIGINT) AS d_o2,
       |    CAST(SUM(m) AS BIGINT) AS n_values
       |  FROM pu),
       |ca AS (
       |  SELECT CAST(SUM(nc * nc) AS BIGINT) AS sum_nc2 FROM (
       |    SELECT p.label, CAST(SUM(p.nuc) AS BIGINT) AS nc
       |    FROM puc p JOIN pu USING (doc_id) GROUP BY p.label) t)
       |SELECT n_units, n_values, d_o2,
       |  n_values * n_values - sum_nc2 AS sum_e,
       |  CAST(ROUND(1e6 * (1.0 - CAST(n_values - 1 AS DOUBLE) * CAST(d_o2 AS DOUBLE) / 2.0
       |    / CAST(n_values * n_values - sum_nc2 AS DOUBLE))) AS BIGINT) AS alpha_e6
       |FROM ua CROSS JOIN ca""".stripMargin

  def a15CohensKappa(s: SparkSession, dir: String): DataFrame = {
    val cm = a14ConfusionMatrix(s, dir)
    val tot = cm.agg(sum("n").as("nn"),
      sum(when(col("true_lang") === col("pred_lang"), col("n")).otherwise(0L)).as("agree"))
    val rowsM = cm.groupBy(col("true_lang").as("l")).agg(sum("n").as("rn"))
    val colsM = cm.groupBy(col("pred_lang").as("l")).agg(sum("n").as("cn"))
    val rc = rowsM.join(colsM, Seq("l")).agg(sum(col("rn") * col("cn")).as("rc"))
    val po = col("agree").cast(DoubleType) / col("nn").cast(DoubleType)
    val pe = col("rc").cast(DoubleType) / (col("nn") * col("nn")).cast(DoubleType)
    tot.crossJoin(rc)
      .select(col("nn"), col("agree"),
        round(lit(1e6) * po).cast(LongType).as("po_e6"),
        round(lit(1e6) * pe).cast(LongType).as("pe_e6"),
        // pe = 1 (single-class matrix) → kappa undefined: NULL in both
        // engines, per the repo's zero-denominator rule (Spark would give
        // round(NaN) = 0, DuckDB NULL — a silent hash mismatch)
        when(col("rc") === col("nn") * col("nn"), lit(null))
          .otherwise(round(lit(1e6) * (po - pe) / (lit(1d) - pe)))
          .cast(LongType).as("kappa_e6"))
  }

  val a15CohensKappaSql: String =
    s"""WITH $ta1CoreSql,
       |pred AS (SELECT doc_id, cand_lang AS pred_lang FROM ranked WHERE rk = 1),
       |truth AS (SELECT doc_id, lang AS true_lang FROM documents WHERE doc_id % 5 = 4),
       |cm AS (
       |  SELECT t.true_lang, p.pred_lang, COUNT(*) AS n
       |  FROM pred p JOIN truth t USING (doc_id) GROUP BY 1, 2),
       |tot AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
       |    CAST(SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END) AS BIGINT) AS agree
       |  FROM cm),
       |rm AS (SELECT true_lang AS l, CAST(SUM(n) AS BIGINT) AS rn FROM cm GROUP BY 1),
       |cmg AS (SELECT pred_lang AS l, CAST(SUM(n) AS BIGINT) AS cn FROM cm GROUP BY 1),
       |rc AS (SELECT CAST(SUM(rn * cn) AS BIGINT) AS rc FROM rm JOIN cmg USING (l))
       |SELECT nn, agree,
       |  CAST(ROUND(1e6 * (CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE))) AS BIGINT) AS po_e6,
       |  CAST(ROUND(1e6 * (CAST(rc AS DOUBLE) / CAST(nn * nn AS DOUBLE))) AS BIGINT) AS pe_e6,
       |  CASE WHEN rc = nn * nn THEN NULL
       |    ELSE CAST(ROUND(1e6 * ((CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE))
       |      - (CAST(rc AS DOUBLE) / CAST(nn * nn AS DOUBLE)))
       |    / (1 - (CAST(rc AS DOUBLE) / CAST(nn * nn AS DOUBLE)))) AS BIGINT) END AS kappa_e6
       |FROM tot CROSS JOIN rc""".stripMargin

  /** a18_roc_auc — exact tie-aware ROC-AUC of ta1's 'en' posterior as a
    * binary detector (is-English) on the held-out slice: the Mann–Whitney
    * identity AUC = U/(n⁺·n⁻), computed WITHOUT a global per-row rank —
    * scores aggregate per distinct value (np, nn per score), the exclusive
    * negative prefix comes from [[graft.operators.Rank.globalCumSum]] (range
    * partitions + broadcast offsets, never one sort task), and ties
    * contribute the standard nn/2 term, kept integer-exact by accumulating
    * 2·U. Completes the eval family: a7/a13 (P/R/F1), a14 (confusion),
    * a15 (κ), a17 (ECE) — AUC is the threshold-free one. Like a15, chance-
    * level (~0.5) on the synthetic corpus is the CORRECT reading: every
    * language draws from the same word distribution. */
  def a18RocAuc(s: SparkSession, dir: String): DataFrame = {
    val truth = t(s, dir, "documents")
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    graft.operators.Eval.rocAuc(
      langIdScored(s, dir).filter(col("cand_lang") === "en")
        .join(truth, Seq("doc_id")),
      col("score_e6"), col("pos"))
  }

  val a18RocAucSql: String =
    s"""WITH $ta1CoreSql,
       |en AS (
       |  SELECT s.score_e6, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM scored s JOIN documents d USING (doc_id)
       |  WHERE s.cand_lang = 'en' AND d.doc_id % 5 = 4),
       |g AS (
       |  SELECT score_e6, CAST(SUM(pos) AS BIGINT) AS np,
       |    CAST(SUM(1 - pos) AS BIGINT) AS nn
       |  FROM en GROUP BY score_e6),
       |c AS (
       |  SELECT *, CAST(COALESCE(SUM(nn) OVER (ORDER BY score_e6
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_neg
       |  FROM g)
       |SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
       |  CAST(SUM(np * (2 * cum_neg + nn)) AS BIGINT) AS u2,
       |  CASE WHEN SUM(np) = 0 OR SUM(nn) = 0 THEN NULL
       |    ELSE CAST(ROUND(1e6 * CAST(SUM(np * (2 * cum_neg + nn)) AS DOUBLE)
       |      / (2 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE))) AS BIGINT) END AS auc_e6
       |FROM c""".stripMargin

  /** a19_pr_auc — average precision (PR-AUC) of the same 'en' detector a18
    * scores with ROC-AUC: the step-wise AP = Σ ΔR·P over distinct
    * thresholds descending ([[graft.operators.Eval.prAuc]]). The
    * class-imbalance-honest companion metric — on a rare-positive screen
    * (contamination, PII, toxicity) ROC-AUC flatters, AP does not. Each
    * threshold term e6-rounds before the integer sum, so the float path
    * never depends on partitioning. */
  def a19PrAuc(s: SparkSession, dir: String): DataFrame = {
    val truth = t(s, dir, "documents")
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    graft.operators.Eval.prAuc(
      langIdScored(s, dir).filter(col("cand_lang") === "en")
        .join(truth, Seq("doc_id")),
      col("score_e6"), col("pos"))
  }

  val a19PrAucSql: String =
    s"""WITH $ta1CoreSql,
       |en AS (
       |  SELECT s.score_e6, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM scored s JOIN documents d USING (doc_id)
       |  WHERE s.cand_lang = 'en' AND d.doc_id % 5 = 4),
       |g AS (
       |  SELECT score_e6, CAST(SUM(pos) AS BIGINT) AS np,
       |    CAST(SUM(1 - pos) AS BIGINT) AS nn
       |  FROM en GROUP BY score_e6),
       |c AS (
       |  SELECT *,
       |    CAST(COALESCE(SUM(np) OVER w, 0) + np AS BIGINT) AS cum_tp,
       |    CAST(COALESCE(SUM(nn) OVER w, 0) + nn AS BIGINT) AS cum_fp
       |  FROM g
       |  WINDOW w AS (ORDER BY score_e6 DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
       |  CASE WHEN SUM(np) = 0 THEN NULL
       |    ELSE CAST(ROUND(SUM(CASE WHEN np > 0
       |      THEN CAST(ROUND(1e6 * np * cum_tp / (cum_tp + cum_fp)) AS BIGINT)
       |      ELSE 0 END) / CAST(SUM(np) AS DOUBLE)) AS BIGINT) END AS ap_e6
       |FROM c""".stripMargin

  /** a20_mcnemar — McNemar's paired test between ta1's langid and the
    * majority-class baseline on the same held-out docs: b = baseline-only
    * errors, c = model-only errors, χ² = (b−c)²/(b+c) (no continuity
    * correction; the b+c=0 degenerate is null per the zero-denominator
    * rule). THE honest way to claim "model beats baseline" on shared eval
    * data — marginal accuracies ignore that the two classifiers err on
    * correlated examples. All counts integer; one final division e6-rounds.
    * Scale: two broadcast-joined scalars over ta1's already-shared
    * prediction table; the discordant-pair counts aggregate map-side. */
  def a20Mcnemar(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val majority = docs.filter(col("doc_id") % 5 < 4)
      .groupBy("lang").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("lang")).limit(1)
      .select(col("lang").as("maj_lang"))
    val truth = docs.filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("lang").as("true_lang"))
    langIdPred(s, dir).join(truth, Seq("doc_id"))
      .crossJoin(broadcast(majority))
      .select(col("maj_lang"),
        (col("pred_lang") === col("true_lang")).cast(LongType).as("a_ok"),
        (col("maj_lang") === col("true_lang")).cast(LongType).as("b_ok"))
      .groupBy("maj_lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("a_ok") === 1L && col("b_ok") === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(col("a_ok") === 0L && col("b_ok") === 1L, 1L).otherwise(0L)).as("c"))
      .select(col("maj_lang"), col("n"), col("b"), col("c"),
        when(col("b") + col("c") === 0L, lit(null))
          .otherwise(round(lit(1e6) * (col("b") - col("c")).cast(DoubleType) *
            (col("b") - col("c")).cast(DoubleType) /
            (col("b") + col("c")).cast(DoubleType)))
          .cast(LongType).as("chi2_e6"))
  }

  val a20McnemarSql: String =
    s"""WITH $ta1CoreSql,
       |pred AS (SELECT doc_id, cand_lang AS pred_lang FROM ranked WHERE rk = 1),
       |maj AS (
       |  SELECT lang AS maj_lang FROM documents WHERE doc_id % 5 < 4
       |  GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT 1),
       |paired AS (
       |  SELECT m.maj_lang,
       |    CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END AS a_ok,
       |    CASE WHEN m.maj_lang = d.lang THEN 1 ELSE 0 END AS b_ok
       |  FROM pred p JOIN documents d USING (doc_id) CROSS JOIN maj m
       |  WHERE d.doc_id % 5 = 4)
       |SELECT maj_lang, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |  CAST(SUM(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |  CASE WHEN SUM(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END)
       |      + SUM(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END) = 0 THEN NULL
       |    ELSE CAST(ROUND(1e6 *
       |      CAST(SUM(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END)
       |         - SUM(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END) AS DOUBLE) *
       |      CAST(SUM(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END)
       |         - SUM(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
       |      CAST(SUM(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END)
       |         + SUM(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END) AS DOUBLE))
       |      AS BIGINT) END AS chi2_e6
       |FROM paired GROUP BY maj_lang""".stripMargin

  /** ta2_quality_score — document quality heuristics: token count, mean word
    * length, stopword ratio, combined into one scaled-integer score. */
  def ta2QualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val meanLen = aggregate(toks, lit(0), (acc, w) => acc + length(w))
      .cast(DoubleType) / nTokens.cast(DoubleType)
    val stop = Seq("the", "a", "of", "and", "in", "to")
    val stopRatio = size(filter(toks, w => w.isin(stop.map(x => x: Any): _*)))
      .cast(DoubleType) / nTokens.cast(DoubleType)
    val score = round((stopRatio * 0.3 + least(nTokens, lit(100)).cast(DoubleType) / 100.0 * 0.4 +
      least(meanLen, lit(10.0)) / 10.0 * 0.3) * 1e6).cast(LongType)
    t(s, dir, "documents")
      .select(col("doc_id"), nTokens.as("n_tokens"), score.as("quality_score_e6"))
      .orderBy("doc_id")
  }

  val ta2QualityScoreSql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |  CAST(ROUND((
      |    (CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','in','to'))) AS DOUBLE)
      |      / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.3
      |    + (CAST(LEAST(len(string_split(text,' ')), 100) AS DOUBLE) / 100.0) * 0.4
      |    + LEAST(CAST(list_sum(list_transform(string_split(text,' '), w -> len(w))) AS DOUBLE)
      |        / CAST(len(string_split(text,' ')) AS DOUBLE), 10.0) / 10.0 * 0.3
      |  ) * 1e6) AS BIGINT) AS quality_score_e6
      |FROM documents ORDER BY doc_id""".stripMargin

  /** ta10_gopher_rules — the published Gopher corpus-quality rule set (Rae
    * et al. 2021, "Scaling Language Models", App. A1.1.1 — the filter
    * battery every LLM data pipeline since has copied): word count in
    * [50, 100k], mean word length in [3, 10], symbol-word ratio ≤ 0.1,
    * ≥80% of words alphabetic, ≥2 occurrences of the stop-word set
    * {the, be, to, of, and, that, have, with}. Every rule is evaluated in
    * PURE INTEGER form (3n ≤ Σlen ≤ 10n instead of a float mean; 5·alpha ≥
    * 4·n instead of 0.8) so both engines agree bit-for-bit. Emits each
    * rule's verdict plus the conjunction — the shape a curation pipeline
    * wants for per-rule rejection stats. Pure codegen projection, no
    * shuffle at any scale. */
  /** ta10's five Gopher rules as pure column expressions over a text
    * column — one source of truth shared by the batch face and the
    * streaming ingest gate ([[graft.streaming.EventStreams.qualityGateStream]]),
    * so the two can never diverge. Returns (n_words, word-count rule,
    * mean-word-length rule, symbol-ratio rule, alpha-words rule,
    * stop-words rule). */
  private[graft] def ta10Rules(text: Column):
      (Column, Column, Column, Column, Column, Column) = {
    val toks = tokens(text)
    val n = size(toks)
    val sumLen = aggregate(toks, lit(0), (acc, w) => acc + length(w))
    val nAlpha = size(filter(toks, w => w.rlike("[a-z]")))
    val nSym = size(filter(toks, w => w.isin("#", "...")))
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = size(filter(toks, w => w.isin(stops.map(x => x: Any): _*)))
    (n,
      n >= 50 && n <= 100000,
      sumLen >= n * 3 && sumLen <= n * 10,
      nSym * 10 <= n,
      nAlpha * 5 >= n * 4,
      nStop >= 2)
  }

  def ta10GopherRules(s: SparkSession, dir: String): DataFrame = {
    val (n, rWc, rMwl, rSym, rAlpha, rStop) = ta10Rules(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), n.as("n_words"),
        rWc.as("rule_word_count"), rMwl.as("rule_mean_word_len"),
        rSym.as("rule_symbol_ratio"), rAlpha.as("rule_alpha_words"),
        rStop.as("rule_stop_words"),
        (rWc && rMwl && rSym && rAlpha && rStop).as("pass"))
      .orderBy("doc_id")
  }

  val ta10GopherRulesSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    len(string_split(text,' ')) AS n,
      |    list_sum(list_transform(string_split(text,' '), w -> len(w))) AS sum_len,
      |    len(list_filter(string_split(text,' '), w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
      |    len(list_filter(string_split(text,' '), w -> w IN ('#', '...'))) AS n_sym,
      |    len(list_filter(string_split(text,' '),
      |      w -> w IN ('the','be','to','of','and','that','have','with'))) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n AS n_words,
      |  (n >= 50 AND n <= 100000) AS rule_word_count,
      |  (sum_len >= n * 3 AND sum_len <= n * 10) AS rule_mean_word_len,
      |  (n_sym * 10 <= n) AS rule_symbol_ratio,
      |  (n_alpha * 5 >= n * 4) AS rule_alpha_words,
      |  (n_stop >= 2) AS rule_stop_words,
      |  ((n >= 50 AND n <= 100000) AND (sum_len >= n * 3 AND sum_len <= n * 10)
      |    AND (n_sym * 10 <= n) AND (n_alpha * 5 >= n * 4) AND (n_stop >= 2)) AS pass
      |FROM f ORDER BY doc_id""".stripMargin

  /** ta12_readability — Flesch reading-ease quality gate (the classic
    * pretraining-corpus readability filter): 206.835 − 1.015·(words/
    * sentences) − 84.6·(syllables/words), syllables approximated as vowel
    * groups per word (min 1 — the standard dictionary-free heuristic) and
    * sentences as period count (min 1; the synthetic corpus is
    * single-sentence so that term degenerates to the word count — real
    * corpora exercise it). All counts are integers; the two divisions and
    * the final affine combination are single IEEE ops in the same tree
    * shape on both engines, then e6-rounded. Pure codegen projection —
    * no shuffle at any scale. */
  def ta12Readability(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nWords = greatest(size(toks), lit(1))
    val nSyll = aggregate(toks,
      lit(0), (acc, w) => acc + greatest(regexp_count(w, lit("[aeiouy]+")).cast("int"), lit(1)))
    val nSent = greatest(length(col("text")) - length(expr("replace(text, '.', '')")), lit(1))
    val flesch = round((lit(206.835)
      - lit(1.015) * (nWords.cast(DoubleType) / nSent.cast(DoubleType))
      - lit(84.6) * (nSyll.cast(DoubleType) / nWords.cast(DoubleType))) * 1e6)
      .cast(LongType)
    t(s, dir, "documents")
      .select(col("doc_id"), nWords.as("n_words"), nSyll.as("n_syllables"),
        nSent.as("n_sentences"), flesch.as("flesch_e6"))
      .orderBy("doc_id")
  }

  val ta12ReadabilitySql: String =
    """WITH x AS (SELECT doc_id,
      |  GREATEST(len(string_split(text, ' ')), 1) AS n_words,
      |  CAST(list_sum(list_transform(string_split(text, ' '),
      |    w -> GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1))) AS INT) AS n_syllables,
      |  GREATEST(len(text) - len(replace(text, '.', '')), 1) AS n_sentences
      |  FROM documents)
      |SELECT doc_id, n_words, n_syllables, n_sentences,
      |  CAST(ROUND((206.835
      |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
      |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))) * 1e6) AS BIGINT)
      |    AS flesch_e6
      |FROM x ORDER BY doc_id""".stripMargin

  /** ta18_c4_rules — the C4 cleaning battery (Raffel et al. 2020, §2.2 —
    * the LINE-oriented companion to ta10's doc-level Gopher rules, and the
    * other rule set every web-scale corpus pipeline since has copied):
    * retain only lines that end in terminal punctuation, have ≥5 words, and
    * don't mention "javascript"; then drop whole pages containing "lorem
    * ipsum" or "{", or with fewer than 3 retained lines. The single-line
    * synthetic corpus gets deterministic line noise injected first (the f21
    * convention) so every rule fires non-degenerately: the real corpus text
    * becomes a terminated line, four crafted lines exercise each line rule
    * both ways, and two doc_id-keyed conditional lines trip the page-level
    * kills on deterministic subsets. The retained page is re-assembled and
    * reported as a detHash digest so the cross-engine gate proves identical
    * line-level reconstruction, not just identical counts. Line split,
    * per-line verdicts, and re-join are all array HOFs inside ONE
    * whole-stage-codegen projection — zero shuffles at any scale. */
  /** ta18's deterministic line-noise injection as a column expression over
    * (doc_id, text) — shared with the streaming gate so both faces battery
    * the identical noisy page. */
  private[graft] def ta18Noisy(docId: Column, text: Column): Column =
    concat(text, lit("." +
      "\ntoo short." +
      "\nthis line has no terminal punctuation at the end" +
      "\nPlease enable javascript to view this content." +
      "\nA second well formed sentence survives the filter battery!" +
      "\nDoes a third question line also survive the battery?"),
      when(docId % 7 === 0,
        lit("\nlorem ipsum dolor sit amet consectetur adipiscing elit."))
        .otherwise(lit("")),
      when(docId % 11 === 3,
        lit("\nthis line contains a curly { brace marker."))
        .otherwise(lit("")))

  /** ta18's C4 battery over a (bound) noisy column: (n_lines, n_kept,
    * rule_lorem, rule_brace, kept_hash, pass) — pass folds in the
    * min-retained-lines rule. Single source for batch and stream. */
  private[graft] def ta18FromNoisy(noisy: Column):
      (Column, Column, Column, Column, Column, Column) = {
    val lines = split(noisy, "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") && size(split(l, " ")) >= 5 && !l.contains("javascript"))
    val rLorem = !noisy.contains("lorem ipsum")
    val rBrace = !noisy.contains("{")
    (size(lines), size(kept), rLorem, rBrace,
      detHash(array_join(kept, "\n")),
      rLorem && rBrace && size(kept) >= 3)
  }

  def ta18C4Rules(s: SparkSession, dir: String): DataFrame = {
    val (nLines, nKept, rLorem, rBrace, keptHash, _) = ta18FromNoisy(col("noisy"))
    t(s, dir, "documents")
      .select(col("doc_id"), ta18Noisy(col("doc_id"), col("text")).as("noisy"))
      .select(col("doc_id"), nLines.as("n_lines"),
        nKept.as("n_kept"), rLorem.as("rule_lorem"), rBrace.as("rule_brace"),
        keptHash.as("kept_hash"))
      .withColumn("rule_min_sent", col("n_kept") >= 3)
      .withColumn("pass", col("rule_lorem") && col("rule_brace") && col("rule_min_sent"))
      .orderBy("doc_id")
  }

  val ta18C4RulesSql: String = {
    val nl = "chr(10)"
    val noisyExpr =
      s"""text || '.'
         | || $nl || 'too short.'
         | || $nl || 'this line has no terminal punctuation at the end'
         | || $nl || 'Please enable javascript to view this content.'
         | || $nl || 'A second well formed sentence survives the filter battery!'
         | || $nl || 'Does a third question line also survive the battery?'
         | || CASE WHEN doc_id % 7 = 0
         |      THEN $nl || 'lorem ipsum dolor sit amet consectetur adipiscing elit.'
         |      ELSE '' END
         | || CASE WHEN doc_id % 11 = 3
         |      THEN $nl || 'this line contains a curly { brace marker.'
         |      ELSE '' END""".stripMargin.replace("\n", "")
    s"""WITH noisy AS (SELECT doc_id, $noisyExpr AS noisy FROM documents),
       |f AS (SELECT doc_id, noisy, string_split(noisy, chr(10)) AS ls,
       |  list_filter(string_split(noisy, chr(10)), l ->
       |    regexp_matches(l, '[.!?"]$$') AND len(string_split(l, ' ')) >= 5
       |    AND NOT contains(l, 'javascript')) AS kept
       | FROM noisy)
       |SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept,
       |  NOT contains(noisy, 'lorem ipsum') AS rule_lorem,
       |  NOT contains(noisy, '{') AS rule_brace,
       |  ${detHashSql("array_to_string(kept, chr(10))")} AS kept_hash,
       |  (len(kept) >= 3) AS rule_min_sent,
       |  (NOT contains(noisy, 'lorem ipsum') AND NOT contains(noisy, '{')
       |    AND len(kept) >= 3) AS pass
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** ta13_bm25 — Okapi BM25 retrieval scoring (Robertson & Walker 1994;
    * k1 = 1.2, b = 0.75) for a pinned 3-term query, top-20 docs. The ta6
    * tf-idf's ranked-retrieval successor: corpus statistics (N, Σdl, per-term
    * df) reduce in ONE pass to a single row that broadcast-cross-joins back
    * — the corpus itself never shuffles, and the result is a
    * TakeOrderedAndProject top-k. Per-term scores combine in a fixed
    * left-to-right tree (no row-order-dependent float aggregation); the
    * ln-based score is e6-rounded before ordering per the Q convention. */
  /** The fixed ad-hoc query of the retrieval family (ta13 / ir1). */
  private[graft] val RetrievalQTerms = Seq("data", "spark", "join")

  /** One BM25 term score, k1 = 1.2 and b = 0.75:
    * idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with
    * idf = ln((N − df + 0.5)/(df + 0.5) + 1). `tf`, `df`, `nDocs` and `dl`
    * are integral columns cast to DOUBLE here; `avgdl` is already a double.
    * Every Spark-side BM25 scores through this one expression tree, so
    * the faces that must agree (ir6 ≡ ta13, the persisted and merged
    * serves, the block-max bounds) evaluate bit-identical doubles. */
  private[queries] def bm25Term(tf: Column, df: Column, nDocs: Column, dl: Column,
      avgdl: Column): Column = {
    val (k1, b) = (1.2, 0.75)
    val (tfd, dfd) = (tf.cast(DoubleType), df.cast(DoubleType))
    val idf = log((nDocs.cast(DoubleType) - dfd + 0.5) / (dfd + 0.5) + 1.0)
    idf * (tfd * (k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * (dl.cast(DoubleType) / avgdl)))
  }

  /** avgdl from a stats row's (n_docs, total_dl). */
  private def statsAvgdl: Column =
    col("total_dl").cast(DoubleType) / col("n_docs").cast(DoubleType)

  /** Per-document e6 BM25 of [[RetrievalQTerms]] over ALL documents — the
    * shared scoring core of ta13 (top-20 face), ir1/ir4 (fusion input),
    * ir2 (PRF base), and ir3's sparse arm (SimilarityQueries). One corpus
    * pass + a broadcast one-row stats frame, pinned ONCE per (session, dir)
    * under the `bm25_core` tag so every retrieval consumer reads the same
    * materialization — Catalyst does not dedupe the common subtree across
    * separate queries, and the frame is a narrow (doc_id, dl, bm25_e6)
    * projection, far cheaper to checkpoint than to rescore (r10, closing
    * the r9 advisory: the pin previously lived inside ir2 only). */
  private[queries] def bm25Scores(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionShare.materialized(s, dir, "bm25_core")(bm25ScoresPlan(s, dir))

  private def bm25ScoresPlan(s: SparkSession, dir: String,
      qterms: Seq[String] = RetrievalQTerms): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("dl", size(col("tk")))
    val statCols = sum("dl").as("total_dl") +:
      qterms.map(q => sum(when(array_contains(col("tk"), q), 1L).otherwise(0L))
        .as(s"df_$q"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), statCols: _*)
    def termScore(q: String) = bm25Term(size(filter(col("tk"), x => x === lit(q))),
      col(s"df_$q"), col("n_docs"), col("dl"), statsAvgdl)
    val score = qterms.map(termScore).reduceLeft(_ + _)
    docs.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        round(score * 1e6).cast(LongType).as("bm25_e6"))
  }

  def ta13Bm25(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir)
      .orderBy(desc("bm25_e6"), col("doc_id"))
      .limit(20)

  val ta13Bm25Sql: String = {
    val qterms = Seq("data", "spark", "join")
    val dfCols = qterms.map(q =>
      s"CAST(SUM(CASE WHEN list_contains(tk, '$q') THEN 1 ELSE 0 END) AS BIGINT) AS df_$q").mkString(",\n  ")
    val avgdl = "(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    def termScore(q: String) = {
      val tf = s"CAST(len(list_filter(tk, x -> x = '$q')) AS DOUBLE)"
      val df = s"CAST(df_$q AS DOUBLE)"
      val idf = s"ln((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5) + 1.0)"
      s"$idf * ($tf * (1.2 + 1.0)) / ($tf + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl)))"
    }
    val score = qterms.map(termScore).mkString(" + ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |  len(string_split(text, ' ')) AS dl FROM documents),
       |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl,
       |  $dfCols
       |  FROM d)
       |SELECT doc_id, dl, CAST(ROUND(($score) * 1e6) AS BIGINT) AS bm25_e6
       |FROM d CROSS JOIN st ORDER BY bm25_e6 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** RRF constants (Cormack, Clarke & Buettcher 2009): the canonical k=60
    * damping and a top-50 pool per system. Shared with ir3's hybrid fusion
    * (SimilarityQueries). */
  private[queries] val RrfK = 60
  private[queries] val RrfPoolK = 50

  /** The RRF contribution kernel shared by ir1 (both sparse systems) and
    * ir3's hybrid arms: the top-[[RrfPoolK]] of `scored` by (`scoreCol`
    * desc, `idCol`) each contribute round(1e6/([[RrfK]]+rank)) under a
    * `doc_id` key. The rank window sits ABOVE the limit — never over the
    * corpus. One definition so a fusion-convention change moves every
    * retriever together. */
  private[queries] def rrfContribs(scored: DataFrame, scoreCol: String,
      idCol: String): DataFrame = {
    val w = Window.orderBy(desc(scoreCol), col(idCol))
    scored.orderBy(desc(scoreCol), col(idCol)).limit(RrfPoolK)
      .withColumn("rank", row_number().over(w))
      .select(col(idCol).as("doc_id"),
        round(lit(1e6) / (col("rank") + lit(RrfK))).cast(LongType).as("contrib_e6"))
  }

  /** DuckDB CTE bodies `d`, `st`, `bm` — the BM25 oracle core shared by the
    * retrieval oracles (ta13/ir1 inline their own copies; ir3 splices this). */
  private[queries] val Bm25CtesSql: String = {
    val qterms = RetrievalQTerms
    val dfCols = qterms.map(q =>
      s"CAST(SUM(CASE WHEN list_contains(tk, '$q') THEN 1 ELSE 0 END) AS BIGINT) AS df_$q")
      .mkString(",\n  ")
    val avgdl = "(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    def bmTerm(q: String) = {
      val tf = s"CAST(len(list_filter(tk, x -> x = '$q')) AS DOUBLE)"
      val df = s"CAST(df_$q AS DOUBLE)"
      val idf = s"ln((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5) + 1.0)"
      s"$idf * ($tf * (1.2 + 1.0)) / ($tf + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl)))"
    }
    val bmScore = qterms.map(bmTerm).mkString(" + ")
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |  len(string_split(text, ' ')) AS dl FROM documents),
       |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl,
       |  $dfCols
       |  FROM d),
       |bm AS (SELECT doc_id, CAST(ROUND(($bmScore) * 1e6) AS BIGINT) AS bm25_e6
       |  FROM d CROSS JOIN st)""".stripMargin
  }

  /** Per-document e6 query-tf-idf of [[RetrievalQTerms]] — the second
    * retriever of ir1: Σ_q tf(q)·ln(N/df(q)), zero when a term matches no
    * document. Same one-pass + broadcast-stats shape as [[bm25Scores]]. */
  private def queryTfidfScores(s: SparkSession, dir: String): DataFrame = {
    val qterms = RetrievalQTerms
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val statCols = qterms.map(q =>
      sum(when(array_contains(col("tk"), q), 1L).otherwise(0L)).as(s"df_$q"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), statCols: _*)
    def termScore(q: String) = {
      val tf = size(filter(col("tk"), x => x === lit(q))).cast(DoubleType)
      when(col(s"df_$q") > 0,
        tf * log(col("n_docs").cast(DoubleType) / col(s"df_$q").cast(DoubleType)))
        .otherwise(lit(0.0))
    }
    val score = qterms.map(termScore).reduceLeft(_ + _)
    docs.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score * 1e6).cast(LongType).as("tfidf_e6"))
  }

  /** ir1_rrf_fusion — hybrid retrieval by reciprocal rank fusion (Cormack,
    * Clarke & Buettcher 2009, the standard RAG hybrid-search combiner):
    * two retrievers score the same ad-hoc query ([[RetrievalQTerms]]) —
    * BM25 and plain query-tf-idf — each contributes
    * round(1e6/(60 + rank)) for its top-50 documents, fused by per-doc
    * sum; top-20 fused docs win. Scale shape: each retriever is one corpus
    * pass + a bounded TakeOrdered top-50; the rank windows sit ABOVE
    * limit(50) (the a21 convention — never a corpus-wide window); the
    * fusion is a 100-row union + hash-agg. Determinism: ranks order by the
    * e6-rounded scores with doc_id tiebreaks, contributions are integer,
    * so both engines fuse identically. */
  def ir1RrfFusion(s: SparkSession, dir: String): DataFrame = {
    rrfContribs(bm25Scores(s, dir).select("doc_id", "bm25_e6"), "bm25_e6", "doc_id")
      .unionByName(rrfContribs(queryTfidfScores(s, dir), "tfidf_e6", "doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_systems"), sum("contrib_e6").as("rrf_e6"))
      .orderBy(desc("rrf_e6"), col("doc_id"))
      .limit(20)
  }

  val ir1RrfFusionSql: String = {
    val qterms = RetrievalQTerms
    val dfCols = qterms.map(q =>
      s"CAST(SUM(CASE WHEN list_contains(tk, '$q') THEN 1 ELSE 0 END) AS BIGINT) AS df_$q")
      .mkString(",\n  ")
    val avgdl = "(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    def bmTerm(q: String) = {
      val tf = s"CAST(len(list_filter(tk, x -> x = '$q')) AS DOUBLE)"
      val df = s"CAST(df_$q AS DOUBLE)"
      val idf = s"ln((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5) + 1.0)"
      s"$idf * ($tf * (1.2 + 1.0)) / ($tf + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl)))"
    }
    def tiTerm(q: String) = {
      val tf = s"CAST(len(list_filter(tk, x -> x = '$q')) AS DOUBLE)"
      s"CASE WHEN df_$q > 0 THEN $tf * ln(CAST(n_docs AS DOUBLE) / CAST(df_$q AS DOUBLE)) ELSE 0.0 END"
    }
    val bmScore = qterms.map(bmTerm).mkString(" + ")
    val tiScore = qterms.map(tiTerm).mkString(" + ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |  len(string_split(text, ' ')) AS dl FROM documents),
       |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl,
       |  $dfCols
       |  FROM d),
       |bm AS (SELECT doc_id, CAST(ROUND(($bmScore) * 1e6) AS BIGINT) AS sc
       |  FROM d CROSS JOIN st),
       |bmtop AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rank
       |  FROM bm ORDER BY sc DESC, doc_id LIMIT $RrfPoolK),
       |ti AS (SELECT doc_id, CAST(ROUND(($tiScore) * 1e6) AS BIGINT) AS sc
       |  FROM d CROSS JOIN st),
       |titop AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rank
       |  FROM ti ORDER BY sc DESC, doc_id LIMIT $RrfPoolK),
       |contribs AS (
       |  SELECT doc_id, CAST(ROUND(1e6 / (rank + $RrfK)) AS BIGINT) AS c FROM bmtop
       |  UNION ALL
       |  SELECT doc_id, CAST(ROUND(1e6 / (rank + $RrfK)) AS BIGINT) AS c FROM titop)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_systems, CAST(SUM(c) AS BIGINT) AS rrf_e6
       |FROM contribs GROUP BY doc_id ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** PRF constants: pseudo-relevant pool size, expansion-term count, and
    * the integer fusion weight per expansion-term occurrence (0.05 in e6
    * units — fusion stays pure integer math). */
  private val PrfPoolK = 10
  private val PrfExpandK = 5
  private val PrfWeightE6 = 50000L

  /** ir2_prf_expansion — pseudo-relevance feedback (Rocchio 1971 / RM3
    * family, the classic recall-widening rerank): run the
    * [[RetrievalQTerms]] BM25 retriever, treat its top-[[PrfPoolK]] docs as
    * pseudo-relevant, mine their [[PrfExpandK]] most frequent informative
    * terms (≥4 chars, not an original query term), and rescore the corpus
    * as bm25_e6 + [[PrfWeightE6]]·tf(expansion terms) — integer fusion, no
    * cross-engine float risk beyond the already-proven BM25 rounding.
    *
    * Scale shape: the BM25 pass reads the session-pinned [[bm25Scores]]
    * core (shared with ta13/ir1/ir3/ir4); the pseudo-relevant pool is a bounded TakeOrdered
    * top-10 whose doc ids broadcast into a semi-join BELOW the explode —
    * term mining touches 10 documents, not the corpus; the 5 expansion
    * terms broadcast into the second corpus pass, which shuffles only the
    * matching (doc, term) rows to a per-doc count. No corpus-global
    * window anywhere; final top-20 is TakeOrdered. */
  def ir2PrfExpansion(s: SparkSession, dir: String): DataFrame = {
    val scores = bm25Scores(s, dir).select("doc_id", "bm25_e6")
    val top10 = scores.orderBy(desc("bm25_e6"), col("doc_id")).limit(PrfPoolK)
      .select("doc_id")
    val expTerms = t(s, dir, "documents")
      .join(broadcast(top10), Seq("doc_id"))
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 4 && !col("w").isInCollection(RetrievalQTerms))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("w")).limit(PrfExpandK)
    val expTf = t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(broadcast(expTerms.select("w")), Seq("w"))
      .groupBy("doc_id").agg(count(lit(1)).as("exp_tf"))
    scores.join(expTf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bm25_e6"),
        coalesce(col("exp_tf"), lit(0L)).as("exp_tf"),
        (col("bm25_e6") + coalesce(col("exp_tf"), lit(0L)) * lit(PrfWeightE6))
          .as("fused_e6"))
      .orderBy(desc("fused_e6"), col("doc_id")).limit(20)
  }

  val ir2PrfExpansionSql: String = {
    // the BM25 core splices from the ONE shared CTE text (Bm25CtesSql) —
    // a k1/b/idf change there moves every retrieval oracle together
    val notIn = RetrievalQTerms.map(q => s"'$q'").mkString(", ")
    s"""WITH $Bm25CtesSql,
       |top10 AS (SELECT doc_id FROM bm ORDER BY bm25_e6 DESC, doc_id LIMIT $PrfPoolK),
       |ptok AS (SELECT unnest(tk) AS w FROM d JOIN top10 USING (doc_id)),
       |exp5 AS (SELECT w FROM ptok WHERE len(w) >= 4 AND w NOT IN ($notIn)
       |  GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT $PrfExpandK),
       |tok AS (SELECT doc_id, unnest(tk) AS w FROM d),
       |etf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS exp_tf
       |  FROM tok JOIN exp5 USING (w) GROUP BY doc_id)
       |SELECT b.doc_id, b.bm25_e6,
       |  CAST(COALESCE(e.exp_tf, 0) AS BIGINT) AS exp_tf,
       |  CAST(b.bm25_e6 + COALESCE(e.exp_tf, 0) * $PrfWeightE6 AS BIGINT) AS fused_e6
       |FROM bm b LEFT JOIN etf e USING (doc_id)
       |ORDER BY fused_e6 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** a21_ndcg — retrieval-quality evaluation: nDCG@10 (Järvelin &
    * Kekäläinen 2002) of the per-term BM25 ranking against deterministic
    * graded relevance rel = min(tf, 3). The eval metric the a13–a20 suite
    * lacked: classification/calibration/agreement were covered, ranking
    * quality was not. Per term: DCG@10 = Σ (2^rel − 1)/log₂(pos+1) over the
    * BM25 top-10 (each addend e6-rounded before the integer sum — the Q
    * float rule), IDCG@10 the same over the corpus's ideal top-10
    * relevances, nDCG their e6 ratio; plus MRR@10 (reciprocal rank of the
    * first relevant result, 0 if none in the top-10 — the standard
    * companion metric, exact as an e6 integer since pos ∈ 1..10). Rankings
    * use the e6-rounded BM25 score with doc_id tiebreak, so ordering is
    * engine-exact; position windows sit ABOVE a limit(10), never over the
    * corpus. */
  def a21Ndcg(s: SparkSession, dir: String): DataFrame = {
    val qterms = Seq("data", "spark", "join")
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("dl", size(col("tk")))
    val statCols = sum("dl").as("total_dl") +:
      qterms.map(q => sum(when(array_contains(col("tk"), q), 1L).otherwise(0L))
        .as(s"df_$q"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), statCols: _*)
    def termScore(q: String) = bm25Term(size(filter(col("tk"), x => x === lit(q))),
      col(s"df_$q"), col("n_docs"), col("dl"), statsAvgdl)
    def dcgAddend = round(lit(1e6) *
      (pow(lit(2.0), col("rel").cast(DoubleType)) - lit(1.0)) /
      (log(col("pos").cast(DoubleType) + lit(1.0)) / log(lit(2.0)))).cast(LongType)
    // score every term in ONE corpus pass and materialize the narrow
    // (doc_id, rel_*, score_*) frame per (session, dir) — without it each
    // term's dcg/idcg branch re-scans the corpus (12 pruned scans in the
    // unshared plan). Same evaluate-many-rankings shape as the AL pool.
    val scoredAll = graft.operators.SessionShare.materialized(s, dir, "ndcg_scored") {
      val cols = qterms.flatMap { q =>
        Seq(least(size(filter(col("tk"), x => x === lit(q))), lit(3)).as(s"rel_$q"),
          round(termScore(q) * 1e6).cast(LongType).as(s"score_$q"))
      }
      docs.crossJoin(broadcast(stats)).select(col("doc_id") +: cols: _*)
    }
    val perTerm = qterms.map { q =>
      val scored = scoredAll.select(col("doc_id"),
        col(s"rel_$q").as("rel"), col(s"score_$q").as("score_e6"))
      val dcg = scored.orderBy(col("score_e6").desc, col("doc_id")).limit(10)
        .withColumn("pos", row_number().over(
          Window.orderBy(col("score_e6").desc, col("doc_id"))))
        .agg(sum(dcgAddend).as("dcg_e6"),
          coalesce(round(lit(1e6) /
            min(when(col("rel") > 0, col("pos")))).cast(LongType), lit(0L))
            .as("mrr_e6"))
      val idcg = scored.orderBy(col("rel").desc, col("doc_id")).limit(10)
        .withColumn("pos", row_number().over(
          Window.orderBy(col("rel").desc, col("doc_id"))))
        .agg(sum(dcgAddend).as("idcg_e6"))
      dcg.crossJoin(idcg)
        .select(lit(q).as("qterm"), col("dcg_e6"), col("idcg_e6"),
          round(lit(1e6) * col("dcg_e6") / col("idcg_e6")).cast(LongType)
            .as("ndcg_e6"),
          col("mrr_e6"))
    }
    perTerm.reduce(_.union(_)).orderBy("qterm")
  }

  val a21NdcgSql: String = {
    val qterms = Seq("data", "spark", "join")
    val dfCols = qterms.map(q =>
      s"CAST(SUM(CASE WHEN list_contains(tk, '$q') THEN 1 ELSE 0 END) AS BIGINT) AS df_$q").mkString(",\n  ")
    val avgdl = "(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    def termScore(q: String) = {
      val tf = s"CAST(len(list_filter(tk, x -> x = '$q')) AS DOUBLE)"
      val df = s"CAST(df_$q AS DOUBLE)"
      val idf = s"ln((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5) + 1.0)"
      s"$idf * ($tf * (1.2 + 1.0)) / ($tf + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl)))"
    }
    val addend = "CAST(ROUND(1e6 * (power(2.0, CAST(rel AS DOUBLE)) - 1.0) / " +
      "(ln(CAST(pos AS DOUBLE) + 1.0) / ln(2.0))) AS BIGINT)"
    val arms = qterms.map { q =>
      s"""SELECT '$q' AS qterm,
         |  (SELECT CAST(SUM($addend) AS BIGINT) FROM (
         |     SELECT least(len(list_filter(tk, x -> x = '$q')), 3) AS rel,
         |       ROW_NUMBER() OVER (ORDER BY CAST(ROUND((${termScore(q)}) * 1e6) AS BIGINT) DESC, doc_id) AS pos
         |     FROM d CROSS JOIN st QUALIFY pos <= 10)) AS dcg_e6,
         |  (SELECT CAST(SUM($addend) AS BIGINT) FROM (
         |     SELECT least(len(list_filter(tk, x -> x = '$q')), 3) AS rel,
         |       ROW_NUMBER() OVER (ORDER BY least(len(list_filter(tk, x -> x = '$q')), 3) DESC, doc_id) AS pos
         |     FROM d QUALIFY pos <= 10)) AS idcg_e6,
         |  (SELECT COALESCE(CAST(ROUND(1e6 / MIN(CASE WHEN rel > 0 THEN pos END)) AS BIGINT), 0) FROM (
         |     SELECT least(len(list_filter(tk, x -> x = '$q')), 3) AS rel,
         |       ROW_NUMBER() OVER (ORDER BY CAST(ROUND((${termScore(q)}) * 1e6) AS BIGINT) DESC, doc_id) AS pos
         |     FROM d CROSS JOIN st QUALIFY pos <= 10)) AS mrr_e6""".stripMargin
    }
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |  len(string_split(text, ' ')) AS dl FROM documents),
       |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl,
       |  $dfCols
       |  FROM d),
       |terms AS (${arms.mkString("\nUNION ALL\n")})
       |SELECT qterm, dcg_e6, idcg_e6,
       |  CAST(ROUND(1e6 * dcg_e6 / idcg_e6) AS BIGINT) AS ndcg_e6, mrr_e6
       |FROM terms ORDER BY qterm""".stripMargin
  }

  /** a22_bleu — generation-quality evaluation: smoothed sentence-level
    * BLEU-2 (Papineni et al. 2002; add-one smoothing on the bigram
    * precision per Lin & Och 2004) over deterministic candidate/reference
    * pairs — doc 2k is the candidate, doc 2k+1 its reference. The eval
    * family's missing modality: a13–a21 cover classification, calibration,
    * agreement and ranking; n-gram-overlap generation scoring is what an
    * LLM-data pipeline runs to compare a distilled/cleaned rewrite against
    * its source. BLEU = BP · √(p1·p2s): clipped unigram precision,
    * add-one-smoothed clipped bigram precision, brevity penalty
    * exp(min(0, 1 − r/c)).
    *
    * Scale shape: ONE corpus pass — both gram orders explode from the same
    * token array in a single projection (n tagged in the struct), clipping
    * is a groupBy on (pair_id, n, gram) — a well-distributed key an order
    * finer than doc_id — and the per-pair rollup is two map-side-combined
    * hash aggregates. No windows, no joins, no broadcast. Every precision
    * numerator/denominator is an exact integer; floats enter only in the
    * final per-pair metric projection, e6-rounded per the Q rule. */
  def a22Bleu(s: SparkSession, dir: String): DataFrame = {
    val d = DoubleType
    // r18: pair the TEXTS once, then clip unigram/bigram multisets per
    // pair in the native [[graft.plans.BleuCountsExpression]] loop — the
    // exploded (pair_id, n, gram) hash agg shuffled the whole gram stream
    // for five integers per pair (the a23 rewrite, on the token domain).
    // Tokenization and the zero-length drop are unchanged, so the oracle
    // is untouched. split('', ' ') of ANY string yields ≥ 1 token, so
    // c_len/r_len > 0 reduces to both sides being present.
    val paired = t(s, dir, "documents")
      .groupBy(expr("doc_id div 2").as("pair_id"))
      .agg(max(when(col("doc_id") % 2 === 0, col("text"))).as("cand"),
        max(when(col("doc_id") % 2 === 1, col("text"))).as("ref"))
      .filter(col("cand").isNotNull && col("ref").isNotNull)
    val cnt = org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.BleuCountsExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(col("cand")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("ref"))))
    val p1 = col("m1").cast(d) / col("c_len").cast(d)
    val p2 = (col("m2") + 1).cast(d) / (col("t2") + 1).cast(d)
    val bp = exp(least(lit(0.0).cast(d), lit(1.0).cast(d) - col("r_len").cast(d) / col("c_len").cast(d)))
    paired.withColumn("__c", cnt)
      .select(col("pair_id"), element_at(col("__c"), 1).as("m1"),
        element_at(col("__c"), 2).as("c_len"),
        element_at(col("__c"), 3).as("r_len"),
        element_at(col("__c"), 4).as("m2"),
        element_at(col("__c"), 5).as("t2"))
      .filter(col("c_len") > 0 && col("r_len") > 0)
      .select(col("pair_id"), col("c_len"), col("r_len"), col("m1"), col("m2"),
        round(p1 * lit(1e6)).cast(LongType).as("p1_e6"),
        round(p2 * lit(1e6)).cast(LongType).as("p2s_e6"),
        round(bp * lit(1e6)).cast(LongType).as("bp_e6"),
        round(bp * sqrt(p1 * p2) * lit(1e6)).cast(LongType).as("bleu_e6"))
      .orderBy("pair_id")
  }

  val a22BleuSql: String =
    """WITH d AS (
      |  SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side,
      |    string_split(text, ' ') AS tk FROM documents),
      |tokpos AS (
      |  SELECT pair_id, side, unnest(tk) AS w, generate_subscripts(tk, 1) AS pos FROM d),
      |grams AS (
      |  SELECT pair_id, side, 1 AS n, w AS g FROM tokpos
      |  UNION ALL
      |  SELECT pair_id, side, 2 AS n, g FROM (
      |    SELECT pair_id, side,
      |      w || ' ' || LEAD(w) OVER (PARTITION BY pair_id, side ORDER BY pos) AS g
      |    FROM tokpos) WHERE g IS NOT NULL),
      |pg AS (
      |  SELECT pair_id, n, g,
      |    SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cc,
      |    SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS rc
      |  FROM grams GROUP BY pair_id, n, g),
      |pp AS (
      |  SELECT pair_id, n, CAST(SUM(LEAST(cc, rc)) AS BIGINT) AS m,
      |    CAST(SUM(cc) AS BIGINT) AS tc, CAST(SUM(rc) AS BIGINT) AS tr
      |  FROM pg GROUP BY pair_id, n),
      |wide AS (
      |  SELECT pair_id,
      |    CAST(SUM(CASE WHEN n = 1 THEN m END) AS BIGINT) AS m1,
      |    CAST(SUM(CASE WHEN n = 1 THEN tc END) AS BIGINT) AS c_len,
      |    CAST(SUM(CASE WHEN n = 1 THEN tr END) AS BIGINT) AS r_len,
      |    CAST(COALESCE(SUM(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS m2,
      |    CAST(COALESCE(SUM(CASE WHEN n = 2 THEN tc END), 0) AS BIGINT) AS t2
      |  FROM pp GROUP BY pair_id),
      |met AS (
      |  SELECT pair_id, c_len, r_len, m1, m2,
      |    CAST(m1 AS DOUBLE) / CAST(c_len AS DOUBLE) AS p1,
      |    CAST(m2 + 1 AS DOUBLE) / CAST(t2 + 1 AS DOUBLE) AS p2,
      |    exp(LEAST(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE))) AS bp
      |  FROM wide WHERE c_len > 0 AND r_len > 0)
      |SELECT pair_id, c_len, r_len, m1, m2,
      |  CAST(ROUND(p1 * 1e6) AS BIGINT) AS p1_e6,
      |  CAST(ROUND(p2 * 1e6) AS BIGINT) AS p2s_e6,
      |  CAST(ROUND(bp * 1e6) AS BIGINT) AS bp_e6,
      |  CAST(ROUND(bp * sqrt(p1 * p2) * 1e6) AS BIGINT) AS bleu_e6
      |FROM met ORDER BY pair_id""".stripMargin

  /** a30's bootstrap geometry: resample count (nearest-rank CI positions
    * derive from it) and the degraded system-B candidate rule (every 4th
    * token dropped) — a deterministic, replayable stand-in for a second
    * generation system that is plausibly-but-not-always worse. */
  private val BootR = 200

  /** a30_bootstrap_ci — paired bootstrap significance for generation
    * metrics (Koehn 2004, "Statistical Significance Tests for Machine
    * Translation Evaluation"). The a22–a29 eval ladder reports point
    * scores; this answers the question every model comparison actually
    * asks: is system A better than B BEYOND resampling noise? (a20's
    * McNemar covers paired classifiers; this is the generation-metric
    * counterpart.) Protocol: per eval pair, BLEU-2 sufficient statistics
    * (clipped matches / totals / ref length — the a22 skeleton) for both
    * systems against the SHARED reference; then [[BootR]] seeded
    * deterministic resamples of the pair set WITH replacement (draw i of
    * resample r picks pair detHash(r·N + i) mod N — both engines replay
    * the exact draw sequence), each resample summing the drawn pairs'
    * statistics into CORPUS BLEU-2 per system (Koehn computes the corpus
    * metric per resample, not a mean of sentence scores); the one-tailed
    * p-value for "A beats B" is the fraction of resamples where A fails
    * to win, and the 95% CI of the delta is nearest-rank over the
    * resample deltas. Identical systems ⇒ every delta 0 ⇒ p = 1
    * (spec-pinned).
    *
    * Scale shape: ONE corpus pass builds the six gram streams (both
    * systems + reference, orders 1–2) from a single projection → (pair,
    * n, gram) hash agg → per-pair statistics (9 ints/pair). The bootstrap
    * never touches text again: draws are a Range scan of R·N 16-byte
    * rows equi-joined to the narrow stats frame (AQE-planned), per-
    * resample rollup is a map-side-combined hash agg on r, and the CI
    * window orders R rows (bounded — aggregate below). Eval sets are
    * slice-bounded by contract in production; R scales the narrow join
    * only. Integer end to end except the final e6-rounded BLEU. */
  def a30BootstrapCi(s: SparkSession, dir: String): DataFrame =
    bootstrapCore(s, dir, "filter(tk, (x, i) -> (i + 1) % 4 != 0)")

  /** The a30 engine with system B's candidate-derivation rule as a
    * parameter — the spec runs it with the identity rule to pin the
    * identical-systems invariant (every delta 0 ⇒ p = 1). */
  private[queries] def bootstrapCore(s: SparkSession, dir: String,
      tkbExpr: String): DataFrame = {
    val dd = DoubleType
    val d = t(s, dir, "documents")
      .select(expr("doc_id div 2").as("pair_id"), (col("doc_id") % 2).as("side"),
        tokens(col("text")).as("tk"))
      .withColumn("tkb", expr(tkbExpr))
      .withColumn("g2a", wordNgrams("tk", 2))
      .withColumn("g2b", wordNgrams("tkb", 2))
    val structs = when(col("side") === 0, concat(
        expr("transform(tk, x -> struct('a' AS sys, 1 AS n, x AS g))"),
        expr("transform(g2a, x -> struct('a' AS sys, 2 AS n, x AS g))"),
        expr("transform(tkb, x -> struct('b' AS sys, 1 AS n, x AS g))"),
        expr("transform(g2b, x -> struct('b' AS sys, 2 AS n, x AS g))")))
      .otherwise(concat(
        expr("transform(tk, x -> struct('r' AS sys, 1 AS n, x AS g))"),
        expr("transform(g2a, x -> struct('r' AS sys, 2 AS n, x AS g))")))
    val stats = d.select(col("pair_id"), explode(structs).as("p"))
      .select(col("pair_id"), col("p.sys").as("sys"), col("p.n").as("n"), col("p.g").as("g"))
      .groupBy("pair_id", "n", "g")
      .agg(sum(when(col("sys") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("sys") === "b", 1L).otherwise(0L)).as("cb"),
        sum(when(col("sys") === "r", 1L).otherwise(0L)).as("rc"))
      .groupBy("pair_id")
      .agg(sum(when(col("n") === 1, least(col("ca"), col("rc")))).as("m1a"),
        sum(when(col("n") === 1, col("ca"))).as("c1a"),
        coalesce(sum(when(col("n") === 2, least(col("ca"), col("rc")))), lit(0L)).as("m2a"),
        coalesce(sum(when(col("n") === 2, col("ca"))), lit(0L)).as("t2a"),
        sum(when(col("n") === 1, least(col("cb"), col("rc")))).as("m1b"),
        sum(when(col("n") === 1, col("cb"))).as("c1b"),
        coalesce(sum(when(col("n") === 2, least(col("cb"), col("rc")))), lit(0L)).as("m2b"),
        coalesce(sum(when(col("n") === 2, col("cb"))), lit(0L)).as("t2b"),
        sum(when(col("n") === 1, col("rc"))).as("rl"))
    // N from a plan-time count (the pairStride convention); doc_ids are
    // dense so pair ids are 0..N-1 and the modulo draw hits every pair
    val nPairs = (graft.Tables.rowCount(s, dir, "documents") + 1L) / 2L
    val draws = s.range(BootR.toLong * nPairs)
      .select(expr(s"id div ${nPairs}L").as("r"),
        (detHash(col("id"), 7) % nPairs).as("pair_id"))
    def bleu(m1: String, c1: String, m2: String, t2: String): Column = {
      val p1 = col(m1).cast(dd) / col(c1).cast(dd)
      val p2 = (col(m2) + 1).cast(dd) / (col(t2) + 1).cast(dd)
      val bp = exp(least(lit(0.0), lit(1.0) - col("rl").cast(dd) / col(c1).cast(dd)))
      round(bp * sqrt(p1 * p2) * lit(1e6)).cast(LongType)
    }
    val deltas = draws.join(stats, Seq("pair_id"))
      .groupBy("r")
      .agg(sum("m1a").as("m1a"), sum("c1a").as("c1a"), sum("m2a").as("m2a"),
        sum("t2a").as("t2a"), sum("m1b").as("m1b"), sum("c1b").as("c1b"),
        sum("m2b").as("m2b"), sum("t2b").as("t2b"), sum("rl").as("rl"))
      .select(col("r"),
        (bleu("m1a", "c1a", "m2a", "t2a") - bleu("m1b", "c1b", "m2b", "t2b")).as("delta_e6"))
    // nearest-rank 95% CI positions over the R-row delta set
    val loRk = math.max(1, math.ceil(0.025 * BootR).toInt)
    val hiRk = math.min(BootR, math.ceil(0.975 * BootR).toInt)
    deltas
      .withColumn("rk", row_number().over(Window.orderBy(col("delta_e6"), col("r"))))
      .agg(count(lit(1)).as("n_resamples"),
        sum(when(col("delta_e6") > 0, 1L).otherwise(0L)).as("wins_a"),
        sum(when(col("delta_e6") < 0, 1L).otherwise(0L)).as("wins_b"),
        sum("delta_e6").as("sum_delta_e6"),
        min(when(col("rk") === loRk, col("delta_e6"))).as("ci_lo_e6"),
        min(when(col("rk") === hiRk, col("delta_e6"))).as("ci_hi_e6"))
      .withColumn("p_a_e6", expr("(1000000 * (n_resamples - wins_a)) div n_resamples"))
  }

  val a30BootstrapCiSql: String = {
    def bleuSql(m1: String, c1: String, m2: String, t2: String): String =
      s"""CAST(ROUND(exp(LEAST(CAST(0 AS DOUBLE), 1 - CAST(rl AS DOUBLE) / CAST($c1 AS DOUBLE)))
         | * sqrt((CAST($m1 AS DOUBLE) / CAST($c1 AS DOUBLE))
         |        * (CAST($m2 + 1 AS DOUBLE) / CAST($t2 + 1 AS DOUBLE))) * 1e6) AS BIGINT)""".stripMargin
    val loRk = math.max(1, math.ceil(0.025 * BootR).toInt)
    val hiRk = math.min(BootR, math.ceil(0.975 * BootR).toInt)
    s"""WITH d AS (
       |  SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side,
       |    string_split(text, ' ') AS tk FROM documents),
       |tokpos AS (
       |  SELECT pair_id, side, unnest(tk) AS w, generate_subscripts(tk, 1) AS pos FROM d),
       |tokb AS (SELECT pair_id, w, pos FROM tokpos WHERE side = 0 AND pos % 4 <> 0),
       |grams AS (
       |  SELECT pair_id, CASE WHEN side = 0 THEN 'a' ELSE 'r' END AS sys, 1 AS n, w AS g FROM tokpos
       |  UNION ALL
       |  SELECT pair_id, CASE WHEN side = 0 THEN 'a' ELSE 'r' END AS sys, 2 AS n, g FROM (
       |    SELECT pair_id, side,
       |      w || ' ' || LEAD(w) OVER (PARTITION BY pair_id, side ORDER BY pos) AS g
       |    FROM tokpos) WHERE g IS NOT NULL
       |  UNION ALL
       |  SELECT pair_id, 'b' AS sys, 1 AS n, w AS g FROM tokb
       |  UNION ALL
       |  SELECT pair_id, 'b' AS sys, 2 AS n, g FROM (
       |    SELECT pair_id, w || ' ' || LEAD(w) OVER (PARTITION BY pair_id ORDER BY pos) AS g
       |    FROM tokb) WHERE g IS NOT NULL),
       |pg AS (
       |  SELECT pair_id, n, g,
       |    SUM(CASE WHEN sys = 'a' THEN 1 ELSE 0 END) AS ca,
       |    SUM(CASE WHEN sys = 'b' THEN 1 ELSE 0 END) AS cb,
       |    SUM(CASE WHEN sys = 'r' THEN 1 ELSE 0 END) AS rc
       |  FROM grams GROUP BY pair_id, n, g),
       |stats AS (
       |  SELECT pair_id,
       |    CAST(SUM(CASE WHEN n = 1 THEN LEAST(ca, rc) END) AS BIGINT) AS m1a,
       |    CAST(SUM(CASE WHEN n = 1 THEN ca END) AS BIGINT) AS c1a,
       |    CAST(COALESCE(SUM(CASE WHEN n = 2 THEN LEAST(ca, rc) END), 0) AS BIGINT) AS m2a,
       |    CAST(COALESCE(SUM(CASE WHEN n = 2 THEN ca END), 0) AS BIGINT) AS t2a,
       |    CAST(SUM(CASE WHEN n = 1 THEN LEAST(cb, rc) END) AS BIGINT) AS m1b,
       |    CAST(SUM(CASE WHEN n = 1 THEN cb END) AS BIGINT) AS c1b,
       |    CAST(COALESCE(SUM(CASE WHEN n = 2 THEN LEAST(cb, rc) END), 0) AS BIGINT) AS m2b,
       |    CAST(COALESCE(SUM(CASE WHEN n = 2 THEN cb END), 0) AS BIGINT) AS t2b,
       |    CAST(SUM(CASE WHEN n = 1 THEN rc END) AS BIGINT) AS rl
       |  FROM pg GROUP BY pair_id),
       |np AS (SELECT (COUNT(*) + 1) // 2 AS npairs FROM documents),
       |draws AS (
       |  SELECT id // np.npairs AS r, ${detHashSql("id", 7)} % np.npairs AS pair_id
       |  FROM (SELECT unnest(range($BootR * (SELECT npairs FROM np))) AS id) ids CROSS JOIN np),
       |res AS (
       |  SELECT r, CAST(SUM(m1a) AS BIGINT) AS m1a, CAST(SUM(c1a) AS BIGINT) AS c1a,
       |    CAST(SUM(m2a) AS BIGINT) AS m2a, CAST(SUM(t2a) AS BIGINT) AS t2a,
       |    CAST(SUM(m1b) AS BIGINT) AS m1b, CAST(SUM(c1b) AS BIGINT) AS c1b,
       |    CAST(SUM(m2b) AS BIGINT) AS m2b, CAST(SUM(t2b) AS BIGINT) AS t2b,
       |    CAST(SUM(rl) AS BIGINT) AS rl
       |  FROM draws JOIN stats USING (pair_id) GROUP BY r),
       |del AS (
       |  SELECT r, ${bleuSql("m1a", "c1a", "m2a", "t2a")} - ${bleuSql("m1b", "c1b", "m2b", "t2b")} AS delta_e6
       |  FROM res),
       |rk AS (SELECT r, delta_e6, ROW_NUMBER() OVER (ORDER BY delta_e6, r) AS rk FROM del)
       |SELECT COUNT(*) AS n_resamples,
       |  CAST(SUM(CASE WHEN delta_e6 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS wins_a,
       |  CAST(SUM(CASE WHEN delta_e6 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS wins_b,
       |  CAST(SUM(delta_e6) AS BIGINT) AS sum_delta_e6,
       |  MIN(CASE WHEN rk = $loRk THEN delta_e6 END) AS ci_lo_e6,
       |  MIN(CASE WHEN rk = $hiRk THEN delta_e6 END) AS ci_hi_e6,
       |  (1000000 * (COUNT(*) - CAST(SUM(CASE WHEN delta_e6 > 0 THEN 1 ELSE 0 END) AS BIGINT))) // COUNT(*) AS p_a_e6
       |FROM rk""".stripMargin
  }

  /** a23_chrf — chrF2 (Popović 2015, the WMT-standard companion to BLEU):
    * character-trigram precision/recall F-score with β = 2 (recall weighted
    * double) over the same deterministic candidate/reference pairs as a22.
    * Character n-grams make the metric robust where token BLEU is brittle
    * (morphology, spacing, small edits) — the second generation-eval
    * modality an LLM-data pipeline runs. Whitespace is kept in the grams
    * (documented divergence from the paper's space-stripping; both engines
    * apply the identical text, so the oracle pins it).
    *
    * Scale shape: same single-pass clip skeleton as a22 — trigrams explode
    * from one `sequence` projection (no joins, no windows), clipping is a
    * hash agg on (pair_id, gram), the rollup is one map-side-combined agg.
    * The clip key is finer than doc_id, so skew is impossible by
    * construction; floats enter only in the final metric projection.
    *
    * Text passes through the F21 Unicode pre-clean first (r10 — the CCNet
    * order: normalize, then measure): chrF works at the character level,
    * exactly where a decomposed é vs its composed form or a stray
    * zero-width would silently split every gram containing it. Identity on
    * ASCII corpora; both engines share the normalization (oracle twin), so
    * parity is unchanged. */
  def a23Chrf(s: SparkSession, dir: String): DataFrame = {
    val d = DoubleType
    // r18: pair the TEXTS once (one groupBy of ~250 MB at sf1), then clip
    // trigram multisets per pair in the native
    // [[graft.plans.ChrfCountsExpression]] loop — the exploded
    // (pair_id, gram) hash agg shuffled ~2.4 GB of gram rows for the same
    // three integers per pair. Gram definition (code-point trigrams) and
    // the short-side drop are unchanged, so the oracle is untouched.
    val paired = t(s, dir, "documents")
      .select(col("doc_id"), TF.unicodeNormalize(col("text")).as("text"))
      .filter(length(col("text")) >= 3)
      .groupBy(expr("doc_id div 2").as("pair_id"))
      .agg(max(when(col("doc_id") % 2 === 0, col("text"))).as("cand"),
        max(when(col("doc_id") % 2 === 1, col("text"))).as("ref"))
      .filter(col("cand").isNotNull && col("ref").isNotNull)
    val cnt = org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.ChrfCountsExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(col("cand")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("ref"))))
    val wide = paired.withColumn("__c", cnt)
      .select(col("pair_id"), element_at(col("__c"), 1).as("m"),
        element_at(col("__c"), 2).as("cand_ngrams"),
        element_at(col("__c"), 3).as("ref_ngrams"))
      .filter(col("cand_ngrams") > 0 && col("ref_ngrams") > 0)
    val p = col("m").cast(d) / col("cand_ngrams").cast(d)
    val r = col("m").cast(d) / col("ref_ngrams").cast(d)
    wide.select(col("pair_id"), col("m"), col("cand_ngrams"), col("ref_ngrams"),
      round(p * lit(1e6)).cast(LongType).as("chrp_e6"),
      round(r * lit(1e6)).cast(LongType).as("chrr_e6"),
      round(when(lit(4) * p + r > 0, lit(5) * p * r / (lit(4) * p + r))
        .otherwise(lit(0.0)) * lit(1e6)).cast(LongType).as("chrf_e6"))
      .orderBy("pair_id")
  }

  val a23ChrfSql: String =
    s"""WITH d0 AS (
      |  SELECT doc_id, ${TF.unicodeNormalizeSql("text")} AS text FROM documents),
      |d AS (
      |  SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side, text
      |  FROM d0 WHERE len(text) >= 3),
      |idx AS (
      |  SELECT pair_id, side, text,
      |    unnest(generate_series(1, len(text) - 2)) AS i FROM d),
      |grams AS (SELECT pair_id, side, substring(text, i, 3) AS g FROM idx),
      |pg AS (
      |  SELECT pair_id, g,
      |    SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cc,
      |    SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS rc
      |  FROM grams GROUP BY pair_id, g),
      |wide AS (
      |  SELECT pair_id, CAST(SUM(LEAST(cc, rc)) AS BIGINT) AS m,
      |    CAST(SUM(cc) AS BIGINT) AS cand_ngrams,
      |    CAST(SUM(rc) AS BIGINT) AS ref_ngrams
      |  FROM pg GROUP BY pair_id),
      |met AS (
      |  SELECT pair_id, m, cand_ngrams, ref_ngrams,
      |    CAST(m AS DOUBLE) / CAST(cand_ngrams AS DOUBLE) AS p,
      |    CAST(m AS DOUBLE) / CAST(ref_ngrams AS DOUBLE) AS r
      |  FROM wide WHERE cand_ngrams > 0 AND ref_ngrams > 0)
      |SELECT pair_id, m, cand_ngrams, ref_ngrams,
      |  CAST(ROUND(p * 1e6) AS BIGINT) AS chrp_e6,
      |  CAST(ROUND(r * 1e6) AS BIGINT) AS chrr_e6,
      |  CAST(ROUND((CASE WHEN 4 * p + r > 0 THEN 5 * p * r / (4 * p + r) ELSE 0 END) * 1e6) AS BIGINT) AS chrf_e6
      |FROM met ORDER BY pair_id""".stripMargin

  /** a24's token budget per side — ROUGE-L is an O(m·n) dynamic program per
    * pair, so the operator truncates both sequences to a fixed bound, the
    * ROUGE-1.5.5 `-l`/`-b` length-limit convention (Lin 2004 §5 evaluates
    * at fixed summary lengths). The bound makes per-pair cost CONSTANT in
    * document growth — at 100 TB the metric's cost is #pairs · budget²,
    * never corpus-length-quadratic. */
  private val RougeTokenBudget = 40

  /** a24_rouge_l — ROUGE-L (Lin 2004): longest-common-subsequence
    * F-measure over the same deterministic candidate/reference pairs as
    * a22/a23 — the third standard generation metric (BLEU: clipped n-gram
    * precision; chrF: char-gram F; ROUGE-L: in-order subsequence overlap,
    * the one that rewards sentence-level word order without requiring
    * contiguity). P = LCS/m, R = LCS/n, F = 2PR/(P+R) (β=1, the
    * rouge-score-library convention; Lin's recall-weighted β is a
    * constant away).
    *
    * Scale shape: pairing is ONE hash agg on pair_id (arrays truncated to
    * [[RougeTokenBudget]] BEFORE the shuffle, so rows are bounded); the DP
    * itself is the native codegen [[graft.plans.LcsLenExpression]] — a
    * per-pair O(budget²) int kernel inside the projection, no joins, no
    * windows, no explode at all (grams never materialize — unlike a22/a23
    * nothing here is corpus-token-proportional beyond the tokenize). The
    * oracle replays the identical DP as a recursive CTE via the prefix-max
    * form dp(i)(j) = max_{k≤j} t(k) — the same unrolled-DP convention as
    * the Viterbi/BPE oracles. */
  def a24RougeL(s: SparkSession, dir: String): DataFrame = {
    val d = DoubleType
    graft.plans.GraftFunctions.register(s)
    val paired = t(s, dir, "documents")
      .select(expr("doc_id div 2").as("pair_id"), (col("doc_id") % 2).as("side"),
        slice(tokens(col("text")), 1, RougeTokenBudget).as("tk"))
      .groupBy("pair_id")
      .agg(max(when(col("side") === 0, col("tk"))).as("c"),
        max(when(col("side") === 1, col("tk"))).as("r"))
      .filter(col("c").isNotNull && col("r").isNotNull)
      .select(col("pair_id"),
        call_function("lcs_len", col("c"), col("r")).cast(LongType).as("lcs_len"),
        size(col("c")).cast(LongType).as("c_len"),
        size(col("r")).cast(LongType).as("r_len"))
    val p = col("lcs_len").cast(d) / col("c_len").cast(d)
    val r = col("lcs_len").cast(d) / col("r_len").cast(d)
    paired.select(col("pair_id"), col("lcs_len"), col("c_len"), col("r_len"),
      round(p * lit(1e6)).cast(LongType).as("rougel_p_e6"),
      round(r * lit(1e6)).cast(LongType).as("rougel_r_e6"),
      round(when(p + r > lit(0.0), lit(2.0) * p * r / (p + r))
        .otherwise(lit(0.0)) * lit(1e6)).cast(LongType).as("rougel_f_e6"))
      .orderBy("pair_id")
  }

  /** The oracle unrolls the SAME dp via one recursive CTE over candidate
    * position i, carrying dp row i as a list. The within-row left-neighbor
    * dependency folds away through the prefix-max identity: with
    * t(j) = dp(i−1)(j−1)+1 if aᵢ=bⱼ else dp(i−1)(j), a row's cells are
    * dp(i)(j) = max_{k≤j} t(k) (valid because dp rows grow by ≤1 per
    * column, so the matched case dominates its up-neighbor). */
  val a24RougeLSql: String = {
    val T = RougeTokenBudget
    s"""WITH RECURSIVE pr0 AS (
       |  SELECT doc_id // 2 AS pair_id,
       |    MAX(CASE WHEN doc_id % 2 = 0 THEN string_split(text, ' ')[1:$T] END) AS c,
       |    MAX(CASE WHEN doc_id % 2 = 1 THEN string_split(text, ' ')[1:$T] END) AS r
       |  FROM documents GROUP BY 1),
       |pr AS (SELECT * FROM pr0 WHERE c IS NOT NULL AND r IS NOT NULL),
       |dp AS (
       |  SELECT pair_id, c, r, 0 AS i,
       |    list_transform(range(0, len(r) + 1), x -> 0) AS row
       |  FROM pr
       |  UNION ALL
       |  SELECT pair_id, c, r, i + 1,
       |    list_prepend(0, list_transform(range(1, len(r) + 1), j ->
       |      list_max(list_transform(range(1, j + 1), k ->
       |        CASE WHEN c[i + 1] = r[k] THEN row[k] + 1 ELSE row[k + 1] END))))
       |  FROM dp WHERE i < len(c)),
       |fin AS (
       |  SELECT pair_id, CAST(row[len(r) + 1] AS BIGINT) AS lcs_len,
       |    CAST(len(c) AS BIGINT) AS c_len, CAST(len(r) AS BIGINT) AS r_len
       |  FROM dp WHERE i = len(c)),
       |met AS (
       |  SELECT pair_id, lcs_len, c_len, r_len,
       |    CAST(lcs_len AS DOUBLE) / CAST(c_len AS DOUBLE) AS p,
       |    CAST(lcs_len AS DOUBLE) / CAST(r_len AS DOUBLE) AS r2
       |  FROM fin)
       |SELECT pair_id, lcs_len, c_len, r_len,
       |  CAST(ROUND(p * 1e6) AS BIGINT) AS rougel_p_e6,
       |  CAST(ROUND(r2 * 1e6) AS BIGINT) AS rougel_r_e6,
       |  CAST(ROUND((CASE WHEN p + r2 > 0 THEN 2 * p * r2 / (p + r2) ELSE 0 END) * 1e6) AS BIGINT) AS rougel_f_e6
       |FROM met ORDER BY pair_id""".stripMargin
  }

  /** a25_wer — word error rate: token-level Levenshtein distance over the
    * same deterministic candidate/reference pairs and the same
    * [[RougeTokenBudget]] truncation as a24. The fourth standard
    * generation metric (BLEU: clipped precision; chrF: char-gram F;
    * ROUGE-L: in-order overlap; WER: EDIT effort — the only one that
    * prices substitutions and insertions separately, and the ASR/OCR
    * pipeline standard). WER = dist/|ref| (may exceed 1 when the
    * candidate is longer — reported raw, the convention); CER-style
    * normalized match ratio = 1 − dist/max(m, n) rides along bounded to
    * [0, 1].
    *
    * Scale shape: identical to a24 — bounded arrays into one pair-keyed
    * hash agg, the DP as the native codegen
    * [[graft.plans.EditDistExpression]] inside the projection; no
    * explode, no joins, no windows. The oracle replays the DP as a
    * recursive CTE: with t(k) = min(d(i−1)(k−1)+cost, d(i−1)(k)+1), row
    * i is d(i)(j) = min(i+j, min_{k≤j} t(k)+(j−k)) — the insert chain
    * folded into a prefix-min, the a24 convention. */
  def a25Wer(s: SparkSession, dir: String): DataFrame = {
    val d = DoubleType
    graft.plans.GraftFunctions.register(s)
    val paired = t(s, dir, "documents")
      .select(expr("doc_id div 2").as("pair_id"), (col("doc_id") % 2).as("side"),
        slice(tokens(col("text")), 1, RougeTokenBudget).as("tk"))
      .groupBy("pair_id")
      .agg(max(when(col("side") === 0, col("tk"))).as("c"),
        max(when(col("side") === 1, col("tk"))).as("r"))
      .filter(col("c").isNotNull && col("r").isNotNull)
      .select(col("pair_id"),
        call_function("tok_edit_dist", col("c"), col("r")).cast(LongType).as("edit_dist"),
        size(col("c")).cast(LongType).as("c_len"),
        size(col("r")).cast(LongType).as("r_len"))
    paired.select(col("pair_id"), col("edit_dist"), col("c_len"), col("r_len"),
      round(col("edit_dist").cast(d) / col("r_len").cast(d) * lit(1e6))
        .cast(LongType).as("wer_e6"),
      round((lit(1.0) - col("edit_dist").cast(d) /
        greatest(col("c_len"), col("r_len")).cast(d)) * lit(1e6))
        .cast(LongType).as("match_ratio_e6"))
      .orderBy("pair_id")
  }

  val a25WerSql: String = {
    val T = RougeTokenBudget
    s"""WITH RECURSIVE pr0 AS (
       |  SELECT doc_id // 2 AS pair_id,
       |    MAX(CASE WHEN doc_id % 2 = 0 THEN string_split(text, ' ')[1:$T] END) AS c,
       |    MAX(CASE WHEN doc_id % 2 = 1 THEN string_split(text, ' ')[1:$T] END) AS r
       |  FROM documents GROUP BY 1),
       |pr AS (SELECT * FROM pr0 WHERE c IS NOT NULL AND r IS NOT NULL),
       |dp AS (
       |  SELECT pair_id, c, r, 0 AS i,
       |    list_transform(range(0, len(r) + 1), x -> x) AS row
       |  FROM pr
       |  UNION ALL
       |  SELECT pair_id, c, r, i + 1,
       |    list_prepend(i + 1, list_transform(range(1, len(r) + 1), j ->
       |      least(i + 1 + j, list_min(list_transform(range(1, j + 1), k ->
       |        least(row[k] + (CASE WHEN c[i + 1] = r[k] THEN 0 ELSE 1 END), row[k + 1] + 1)
       |        + (j - k))))))
       |  FROM dp WHERE i < len(c)),
       |fin AS (
       |  SELECT pair_id, CAST(row[len(r) + 1] AS BIGINT) AS edit_dist,
       |    CAST(len(c) AS BIGINT) AS c_len, CAST(len(r) AS BIGINT) AS r_len
       |  FROM dp WHERE i = len(c))
       |SELECT pair_id, edit_dist, c_len, r_len,
       |  CAST(ROUND(CAST(edit_dist AS DOUBLE) / CAST(r_len AS DOUBLE) * 1e6) AS BIGINT) AS wer_e6,
       |  CAST(ROUND((1.0 - CAST(edit_dist AS DOUBLE) / CAST(GREATEST(c_len, r_len) AS DOUBLE)) * 1e6) AS BIGINT) AS match_ratio_e6
       |FROM fin ORDER BY pair_id""".stripMargin
  }

  /** ta3_token_count — whitespace tokens vs BPE-ish regex tokens
    * (letters-runs | digit-runs | single other char). */
  def ta3TokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(tokens(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("bpe_tokens"))
      .orderBy("doc_id")

  val ta3TokenCountSql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** ta4_fingerprint — order-independent document fingerprint: md5 over the
    * sorted distinct token set (dedup-key material). */
  def ta4Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))).as("fingerprint"))
      .orderBy("doc_id")

  val ta4FingerprintSql: String =
    """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** ta6_tfidf — the canonical corpus weighting: per-doc top-3 terms by
    * tf·idf, idf = ln(N/df) (plain inverse document frequency; smoothing
    * variants are a one-line change). Term frequencies and document
    * frequencies are two hash aggregates; the idf join keys on the word
    * (sort-merge at scale — the df table is the corpus vocabulary, too big
    * to broadcast by the a6 rule); the per-doc top-3 window is bounded by
    * each doc's distinct-term count. Scores e6-rounded BEFORE ranking per
    * the Q float rule. */
  /** The (doc_id, word, tf) term-frequency table — the shared physical
    * core of ta6 (tf·idf), ir5 (posting-list build) and ir6 (query from
    * the index). One corpus explode + one (doc, word) hash agg, pinned per
    * (session, dir): Catalyst does not dedupe the common subtree across
    * consumers and (probed r8) neither ReuseExchange nor AQE stage reuse
    * fires, so un-pinned each consumer re-ran the corpus shuffle. The
    * eager localCheckpoint is the same evaluate-once trade as Rank.pinned
    * — strictly cheaper than the re-scan+shuffle it replaces. */
  private[queries] def tfTable(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionShare.materialized(s, dir, "tf_table")(
      termFreqs(t(s, dir, "documents")))

  /** The (doc_id, word, tf) term frequencies of a (doc_id, text) frame:
    * one explode + one (doc, word) count. The corpus table ([[tfTable]])
    * and every fresh segment the postings family serves or folds
    * tokenize through it. */
  private def termFreqs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  def ta6Tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tf = tfTable(s, dir)
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("word")).crossJoin(broadcast(n))
      .withColumn("tfidf_e6",
        round(lit(1e6) * col("tf") * log(col("n_docs") / col("df"))).cast(LongType))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf_e6"), col("word"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("word"), col("tfidf_e6"))
      .orderBy("doc_id", "rk")
  }

  val ta6TfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
      |dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT t.doc_id, t.word,
      |    CAST(ROUND(1e6 * t.tf * ln(n.n_docs / d.df)) AS BIGINT) AS tfidf_e6
      |  FROM tf t JOIN dfreq d USING (word) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, word, tfidf_e6,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf_e6 DESC, word) AS rk
      |  FROM scored)
      |SELECT doc_id, rk, word, tfidf_e6 FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** Posting-list block width for ir5 (docs per block). Real engines store
    * postings in fixed blocks precisely so no single row is ever
    * corpus-sized; 1024 keeps every collect bounded at any corpus scale. */
  private val PostingBlock = 1024L

  /** ir5_inverted_index — the retrieval-index BUILD operator: materialize
    * block-structured posting lists over the whole vocabulary and emit the
    * audit face (top-20 terms by df with document frequency, total term
    * frequency, block count, and an order-independent content
    * fingerprint). This is THE operator a 100 TB BM25 stack runs offline —
    * ta13/ir1–ir4 score from raw text per query; production scores from
    * this index (ir6 proves the equivalence).
    *
    * Scale shape: one (word, doc) hash agg (the shared [[tfTable]] pin) →
    * one (word, block) agg whose collect_list is BOUNDED by
    * [[PostingBlock]] — a stopword's postings span many blocks, never one
    * giant row (the dd15 skew lesson applied to index build) → a word-
    * level rollup whose per-word state is CONSTANT (sums + bit_xor of
    * block hashes — XOR is commutative, so no ordered collect of block
    * hashes is needed either). No row anywhere grows with corpus size. */
  def ir5InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val blocks = tfTable(s, dir)
      .withColumn("blk", expr(s"doc_id div $PostingBlock"))
      .groupBy("word", "blk")
      .agg(count(lit(1)).as("bdf"), sum("tf").as("btf"),
        detHash(concat_ws(",", array_sort(collect_list(
          concat_ws(":", col("doc_id"), col("tf")))))).as("bhash"))
    blocks.groupBy("word")
      .agg(sum("bdf").as("df"), sum("btf").as("total_tf"),
        count(lit(1)).as("n_blocks"), expr("bit_xor(bhash)").as("postings_fp"))
      .orderBy(desc("df"), col("word")).limit(20)
  }

  val ir5InvertedIndexSql: String = {
    val bcontent =
      "array_to_string(list_sort(list(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR))), ',')"
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
       |blocks AS (
       |  SELECT word, doc_id // $PostingBlock AS blk, COUNT(*) AS bdf,
       |    CAST(SUM(tf) AS BIGINT) AS btf,
       |    ${detHashSql(bcontent)} AS bhash
       |  FROM tf GROUP BY word, doc_id // $PostingBlock)
       |SELECT word, CAST(SUM(bdf) AS BIGINT) AS df,
       |  CAST(SUM(btf) AS BIGINT) AS total_tf,
       |  COUNT(*) AS n_blocks, CAST(bit_xor(bhash) AS BIGINT) AS postings_fp
       |FROM blocks GROUP BY word ORDER BY df DESC, word LIMIT 20""".stripMargin
  }

  /** ir6_postings_bm25 — BM25 answered FROM the index, not the text: the
    * query-time face of ir5. ta13 recomputes token arrays per query — the
    * correct oracle shape but an anti-pattern at 100 TB, where the corpus
    * is tokenized ONCE into the [[tfTable]]/ir5 postings and every query
    * touches only its own terms' postings. ir6 rebuilds ta13's exact
    * top-20 from (postings of the 3 query terms) ⋈ (doc-length table) ⊗
    * (one broadcast stats row): per-term tf/df/dl/avgdl feed byte-
    * identical double arithmetic IN THE SAME TERM ORDER as ta13, so the
    * e6-rounded scores are bit-equal — RetrievalSpec asserts ir6 ≡ ta13
    * row-for-row (two physical plans, one logical result; the index-build
    * correctness proof every search engine migration wants).
    *
    * Scale shape: the postings filter cuts the tfTable to the query terms
    * BEFORE any further work (at production the index is word-partitioned,
    * making this a pruned read); dl is one narrow agg off the same pin;
    * the scored join keys on doc_id; top-20 is a bounded TakeOrdered. */
  def ir6PostingsBm25(s: SparkSession, dir: String): DataFrame = {
    val qterms = RetrievalQTerms
    val tf = tfTable(s, dir)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val tf3 = tf.filter(col("word").isInCollection(qterms))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
      .crossJoin(termDfs(tf3, qterms))
    bm25TopK(tf3, dl, stats, qterms, 20)
  }

  /** One row of per-term document frequencies `df_<term>` over a
    * (doc_id, word, tf) frame restricted to `qterms`. */
  private def termDfs(tf3: DataFrame, qterms: Seq[String]): DataFrame = {
    val dfCols = qterms.map(q => sum(when(col("word") === q, 1L).otherwise(0L)).as(s"df_$q"))
    tf3.agg(dfCols.head, dfCols.tail: _*)
  }

  /** The top-`k` (doc_id, dl, bm25_e6) of `qterms` by (score desc,
    * doc_id) over every document of `dl` (doc_id, dl): each term's tf
    * pivots out of `tf3` (doc_id, word, tf; an absent term scores 0), the
    * one-row `stats` carries n_docs, total_dl and each `df_<term>`. Term
    * scores add in `qterms` order and round to e6 once — ir6's arithmetic,
    * shared by every single-query BM25 face over an index. */
  private def bm25TopK(tf3: DataFrame, dl: DataFrame, stats: DataFrame,
      qterms: Seq[String], k: Int): DataFrame = {
    val pivotCols = qterms.map(q => max(when(col("word") === q, col("tf"))).as(s"tf_$q"))
    val pivoted = tf3.groupBy("doc_id").agg(pivotCols.head, pivotCols.tail: _*)
    val score = qterms.map(q => bm25Term(coalesce(col(s"tf_$q"), lit(0L)), col(s"df_$q"),
      col("n_docs"), col("dl"), statsAvgdl)).reduceLeft(_ + _)
    dl.join(pivoted, Seq("doc_id"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), round(score * 1e6).cast(LongType).as("bm25_e6"))
      .orderBy(desc("bm25_e6"), col("doc_id")).limit(k)
  }

  val ir6PostingsBm25Sql: String = {
    val qterms = RetrievalQTerms
    val avgdl = "(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    def termScore(q: String) = {
      val tf = s"CAST(COALESCE(p.tf_$q, 0) AS DOUBLE)"
      val df = s"CAST(df_$q AS DOUBLE)"
      val idf = s"ln((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5) + 1.0)"
      s"$idf * ($tf * (1.2 + 1.0)) / ($tf + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(d.dl AS DOUBLE) / $avgdl)))"
    }
    val score = qterms.map(termScore).mkString(" + ")
    val pivCols = qterms.map(q =>
      s"MAX(CASE WHEN word = '$q' THEN tf END) AS tf_$q").mkString(",\n  ")
    val dfCols = qterms.map(q =>
      s"CAST(SUM(CASE WHEN word = '$q' THEN 1 ELSE 0 END) AS BIGINT) AS df_$q").mkString(",\n  ")
    val inList = qterms.map(q => s"'$q'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
       |dlt AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |tf3 AS (SELECT * FROM tf WHERE word IN ($inList)),
       |piv AS (SELECT doc_id,
       |  $pivCols
       |  FROM tf3 GROUP BY doc_id),
       |st AS (SELECT
       |  (SELECT COUNT(*) FROM dlt) AS n_docs,
       |  (SELECT CAST(SUM(dl) AS BIGINT) FROM dlt) AS total_dl,
       |  $dfCols
       |  FROM tf3)
       |SELECT d.doc_id, d.dl, CAST(ROUND(($score) * 1e6) AS BIGINT) AS bm25_e6
       |FROM dlt d LEFT JOIN piv p USING (doc_id) CROSS JOIN st
       |ORDER BY bm25_e6 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** The word-hash bucket modulus of postings and positions homes whose
    * `stats` row predates the `n_buckets` column: every such home was
    * written 64-way and serves with it. New builds size the count with
    * the corpus ([[bucketCountFor]]). */
  private[graft] val PostingsBuckets = 64

  /** Bucket modulus of a postings or positions store over `nDocs`
    * documents: ~80 documents a bucket, at least 16, at most 1024
    * ([[graft.operators.PersistedIndex.sizedBuckets]]). With a fixed
    * count the per-bucket bytes grow with the corpus and the "pruned"
    * probe read becomes corpus-proportional; sized, it stays roughly
    * constant. The floor keeps small corpora pruning; the cap bounds the
    * partition directories a probe lists (an sf10 store at 6,250 buckets
    * paid ~4.5 s of listing per probe). The count is recorded in the
    * `stats` artifact and probes take the modulus from the home they
    * read ([[readBuckets]]), never from this rule. Bucket keys are term
    * hashes, so a Zipfian vocabulary still concentrates the stopword
    * lists in one bucket — the count cannot fix that;
    * [[graft.sources.Layout.writePartitioned]] salts such hot directories
    * into up to 32 sorted files. */
  private[graft] def bucketCountFor(nDocs: Long): Long =
    graft.operators.PersistedIndex.sizedBuckets(nDocs, 1024L)

  /** The bucket modulus a home was BUILT with — from its stats artifact
    * (one bounded row); [[PostingsBuckets]] for pre-column rows. */
  private[graft] def readBuckets(s: SparkSession, home: java.nio.file.Path): Long =
    graft.operators.PersistedIndex.recordedBuckets(s, home, PostingsBuckets)

  /** ir9's skip-list block width in DOCS — 64, the Block-Max WAND
    * literature's granularity (Ding & Suel 2011 use 64–128), finer than
    * ir5's 1024-doc storage blocks: skip decisions need tight per-block
    * bounds, storage rows only need to stay bounded. */
  private val Ir9Block = 64L

  /** Driver-side twin of [[Q.detHash]] (seed 0) for PLAN-TIME bucket
    * pruning: the query terms are literals, so their bucket ids can be
    * computed without touching any data and land in the probe plan as a
    * partition-pruning IN filter. Equality with the Spark expression is
    * pinned in RetrievalSpec (the DetHashSpec convention). */
  private[queries] def detHash60Local(v: String, seed: Int = 0): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest((seed.toString + v).getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Build-if-absent the persisted postings index and return its home —
    * shared by ir6b (serve) and ir9 (block-max pruned serve). Artifacts:
    * `postings` (word, doc_id, tf — hive-partitioned by word-hash
    * bucket), `doclen`, one-row `stats`, and `blockmax` — the per
    * (word, [[PostingBlock]]-doc block) ceil-e6 upper bound of the TRUE
    * per-doc BM25 term score (query-INDEPENDENT: df/avgdl are corpus
    * statistics), the skip list Block-Max WAND serves from. The `v3`
    * fingerprint prefix versions the artifact layout (v1 had no blockmax;
    * v2 added it at ir5's 1024-doc storage granularity; v3 tightened the
    * blocks to [[Ir9Block]] = 64 docs, the bound width skip decisions
    * need) — bump it whenever artifacts change shape, or stale homes get
    * silently reused. */
  private[queries] def ensurePostingsIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    import graft.operators.PersistedIndex
    PersistedIndex.ensure("postings_index", dir,
      "v3_" + PersistedIndex.tableFingerprint(dir, "documents")) { tmp =>
      val nBk = bucketCountFor(t(s, dir, "documents").select("doc_id").count())
      val tf = tfTable(s, dir)
        .withColumn("bucket", pmod(detHash(col("word")), lit(nBk)))
      graft.sources.Layout.writePartitioned(
        tf, tmp.resolve("postings").toString, "bucket", "word")
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      dl.write.mode("overwrite").parquet(tmp.resolve("doclen").toString)
      dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
        .withColumn("n_buckets", lit(nBk))
        .write.mode("overwrite").parquet(tmp.resolve("stats").toString)
      // block-max skip list: ceil keeps the bound SOUND against the
      // round()ed final scores (Σ_t ceil(1e6·ts_t) ≥ round(1e6·Σ_t ts_t))
      val dfT = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val st = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
      val ts = bm25Term(col("tf"), col("df"), col("n_docs"), col("dl"), statsAvgdl)
      graft.sources.Layout.writePartitioned(
        tf.join(dl, Seq("doc_id")).join(dfT, Seq("word")).crossJoin(broadcast(st))
          .withColumn("ts_ub_e6", ceil(lit(1e6) * ts).cast(LongType))
          .withColumn("blk", expr(s"doc_id div $Ir9Block"))
          .groupBy("bucket", "word", "blk").agg(max("ts_ub_e6").as("ub_e6")),
        tmp.resolve("blockmax").toString, "bucket", "word")
    }
  }

  /** ir6b_persisted_postings — ir6 served from a PERSISTED index: the
    * ss2b pattern applied to the BM25/postings family. ir5/ir6 prove the
    * index-build and index-query operators but rebuild the posting lists
    * per run; every production BM25 stack builds ONCE (offline) and serves
    * every query from the persisted artifacts. Build-if-absent (under a
    * corpus-fingerprinted staging dir, [[graft.operators.PersistedIndex]])
    * writes the artifacts of [[ensurePostingsIndex]]: `postings` — the
    * (word, doc_id, tf) table hive-partitioned by word-hash bucket, so a
    * query's `bucket IN (…)` prunes directories at plan time (the
    * word-partitioned pruned read ir6's scaladoc promises); `doclen` — the
    * narrow (doc_id, dl) table BM25's length normalization needs; and
    * `stats` — the one-row (n_docs, total_dl) corpus statistics.
    * ir9 falls back to this exact plan ([[persistedBm25]]).
    *
    * The probe plan scans ZERO corpus files: bucket ids for the literal
    * query terms are computed driver-side ([[detHash60Local]] — no data
    * touched, plan-time constants), the postings read prunes to ≤|terms|
    * buckets, per-term df comes from the pruned postings, and the scoring
    * replays ir6's double arithmetic over identical inputs in identical
    * term order — so the e6 scores are bit-equal to ir6 (asserted in
    * RetrievalSpec along with the no-corpus-scan plan shape; the oracle is
    * ir6's SQL — the persisted detour is invisible to the answer). Probe
    * cost is (pruned postings + doclen + one stats row), independent of
    * vocabulary size and of any text column — the ~1× decade a served
    * index should give. */
  def ir6bPersistedPostings(s: SparkSession, dir: String): DataFrame =
    persistedBm25(s, ensurePostingsIndex(s, dir), RetrievalQTerms)

  /** The `artifact` rows of a persisted word-bucketed store (postings,
    * blockmax, positions) for `terms` only: the driver computes the
    * terms' buckets under the home's recorded modulus, so the read lands
    * as a `bucket IN (…)` PartitionFilter plus a pushed term filter. */
  private def prunedArtifact(s: SparkSession, home: java.nio.file.Path,
      artifact: String, terms: Seq[String]): DataFrame = {
    val nBk = readBuckets(s, home)
    val qbuckets = terms.map(q => detHash60Local(q) % nBk).distinct.sorted
    graft.operators.PersistedIndex.artifactFrame(s, home, artifact)
      .where(col("bucket").isin(qbuckets.map(java.lang.Long.valueOf): _*) &&
        col("word").isInCollection(terms))
  }

  /** What BM25 over a persisted postings home reads for `qterms`: the
    * bucket-pruned (doc_id, word, tf) rows, the `doclen` artifact, and
    * the `stats` row widened with each term's df from the pruned rows. */
  private def persistedTerms(s: SparkSession, home: java.nio.file.Path,
      qterms: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    val tf3 = prunedArtifact(s, home, "postings", qterms).select("doc_id", "word", "tf")
    (tf3, graft.operators.PersistedIndex.artifactFrame(s, home, "doclen"),
      graft.operators.PersistedIndex.artifactFrame(s, home, "stats")
        .crossJoin(termDfs(tf3, qterms)))
  }

  /** ir6's top-20 scored from a persisted postings home — ir6b's plan and
    * ir9's uncertified fallback. */
  private def persistedBm25(s: SparkSession, home: java.nio.file.Path,
      qterms: Seq[String]): DataFrame = {
    val (tf3, dl, stats) = persistedTerms(s, home, qterms)
    bm25TopK(tf3, dl, stats, qterms, 20)
  }

  /** ir9_blockmax_bm25 — Block-Max pruned BM25 (the Ding & Suel 2011
    * Block-Max WAND recipe reshaped declaratively): top-k retrieval that
    * SKIPS whole posting blocks whose score upper bound cannot beat the
    * running threshold — the third serving rung after ir6 (score from the
    * index) and ir6b (score from the PERSISTED index). The persisted
    * `blockmax` artifact stores, per (term, [[Ir9Block]]-doc block), the ceil-e6
    * upper bound of the true per-doc term score (query-independent).
    * Probe: (1) per-block bound = Σ over query terms of the block's ub
    * (pruned read — bucket partition filter + term filter); (2) seed =
    * the highest-bound block, scored EXACTLY (ir6's arithmetic), whose
    * k-th score becomes the threshold θ; (3) only blocks with bound ≥ θ
    * are scored at all — every skipped block is sound because
    * Σ_t ceil(1e6·ts_t) ≥ round(1e6·Σ_t ts_t) ≥ any member doc's final
    * score. Results are bit-equal to ir6 (identical double arithmetic on
    * identical inputs over a provably sufficient candidate set; the
    * oracle is ir6's SQL — pruning is invisible to the answer, which is
    * the point). Precondition: ≥ k docs carry a query-term posting, so
    * zero-score docs can never enter the top-k — certified at runtime by
    * the seed block carrying k exact STRICTLY-POSITIVE scores
    * ([[blockmaxCertified]]); when it can't be (sparse terms, tiny
    * corpora, idf≈0 rounding the k-th score to 0), the probe falls back
    * to ir6b's full scoring off the same artifacts, zero-score padding
    * included.
    *
    * Scale shape: bounds/seed/θ are block-count- and k-bounded (seed top
    * is a ≤k-row collect, the ir7 class); the kept-block filter is a
    * broadcast semi-join (block ids, never doc rows); scoring touches
    * only docs inside surviving blocks. The pruning DECISION uses only
    * engine-internal bounds — cross-engine equality rests on the sound
    * inequality, not on double ulps. */
  def ir9BlockmaxBm25(s: SparkSession, dir: String): DataFrame =
    ir9Internals(s, dir, RetrievalQTerms)._1

  /** The block-max PRUNING CERTIFICATE (extracted so the decision is unit-
    * testable without a multi-million-doc corpus): pruning is sound only
    * when (1) the seed block yielded k exact scores — certifying ≥ k docs
    * corpus-wide carry a query-term posting — AND (2) the k-th score is
    * strictly positive (ADVICE r14: with web-scale df, idf≈0 can e6-round
    * the k-th seed score to 0; zero-score docs then tie at θ=0 and can
    * enter ir6's top-k via the doc_id tiebreak while being absent from
    * every posting-carrying block — the kept-block candidate set would
    * silently drop them). Either failure → fall back to full scoring off
    * the same persisted artifacts. */
  private[queries] def blockmaxCertified(seedCount: Int, k: Int, kthScoreE6: Long): Boolean =
    seedCount == k && kthScoreE6 > 0L

  /** (result, kept-block frame, all-bounds frame) — split out so the spec
    * can measure real pruning and swap in selective query terms. */
  private[queries] def ir9Internals(s: SparkSession, dir: String,
      qterms: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    val topK = 20
    val home = ensurePostingsIndex(s, dir)
    val (tf3, dl, stats) = persistedTerms(s, home, qterms)
    val bounds = prunedArtifact(s, home, "blockmax", qterms)
      .groupBy("blk").agg(sum("ub_e6").as("bound_e6"))
    def scored(cands: DataFrame): DataFrame = bm25TopK(
      tf3.join(cands, Seq("doc_id"), "left_semi"), dl.join(cands, Seq("doc_id"), "left_semi"),
      stats, qterms, topK)
    // Fallback when the block-max precondition (≥ k docs carry a
    // query-term posting, so zero-score docs can never enter ir6's top-k)
    // cannot be certified from the seed block: score EVERY doc off the
    // same persisted artifacts — ir6b's plan, so zero-score docs pad the
    // top-k exactly as ir6's all-docs scoring does.
    def fullScored: DataFrame = persistedBm25(s, home, qterms)
    val seedRow = bounds.orderBy(desc("bound_e6"), col("blk")).limit(1).collect()
    if (seedRow.isEmpty) return (fullScored, bounds, bounds)
    val seed = seedRow.head.getAs[Long]("blk")
    val seedDocs = tf3.filter(expr(s"doc_id div $Ir9Block") === seed)
      .select("doc_id").distinct()
    // θ = the k-th exact score inside the seed block (≤k-row collect)
    val seedTop = scored(seedDocs).collect()
    val theta = if (seedTop.isEmpty) 0L else seedTop.last.getAs[Long]("bm25_e6")
    if (!blockmaxCertified(seedTop.length, topK, theta)) return (fullScored, bounds, bounds)
    val kept = bounds.filter(col("bound_e6") >= theta)
    val candDocs = tf3.withColumn("blk", expr(s"doc_id div $Ir9Block"))
      .join(broadcast(kept.select("blk")), Seq("blk"), "left_semi")
      .select("doc_id").distinct()
    (scored(candDocs), kept, bounds)
  }

  /** ir10_delta_index — INCREMENTAL index maintenance: BM25 served from a
    * persisted base SNAPSHOT plus an in-flight DELTA segment, the
    * Lucene/segment-merge shape every production index uses so corpus
    * APPENDS never trigger a full rebuild. At 100 TB a daily crawl adds
    * ~1% new documents; re-tokenizing the other 99% per refresh is the
    * anti-pattern ir6b's one-shot build still embeds. Here the snapshot
    * boundary is a doc_id watermark recorded IN the persisted `stats`
    * artifact at build time (last decile of the id range, modeling "the
    * docs that arrived after the snapshot"); the probe
    *   (1) serves the base from the persisted bucket-pruned postings
    *       (zero base-corpus scan, the ir6b path), and
    *   (2) tokenizes ONLY the delta, behind a `doc_id > split` range
    *       predicate that reaches the parquet scan as a pushed filter —
    *       min/max row-group stats (and, range-clustered, file pruning)
    *       keep the read proportional to the DELTA, not the corpus.
    * Merge is exact, not approximate: per-term df and the corpus stats
    * (n_docs, total_dl) are Long SUMS across segments, doc lengths and
    * tfs are disjoint unions, and the scoring replays ir6's double
    * arithmetic in identical term order — so the merged answer is
    * bit-equal to a from-scratch index over the full corpus (the oracle
    * is ir6's SQL; segmentation is invisible to the answer, which is the
    * invariant that makes background COMPACTION safe: folding the delta
    * into a new snapshot — ir6b's build under the new fingerprint — can
    * never change results, only shrink the in-flight segment). */
  def ir10DeltaIndex(s: SparkSession, dir: String): DataFrame =
    ir10Internals(s, dir, RetrievalQTerms)._1

  /** Build-if-absent the base SNAPSHOT index (postings/doclen/stats for
    * docs at-or-below the recorded watermark; layout = ir6b's artifacts +
    * `split_id` in the stats row). */
  private[graft] def ensureBasePostingsIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    import graft.operators.PersistedIndex
    // generation-aware: resolves an append-folded snapshot when one exists
    // ([[IndexMaintenance.foldAppends]]); answer-invariant either way
    PersistedIndex.ensure("postings_base", dir, postingsFp(dir))(
      buildBasePostings(s, dir, _, None))
  }

  /** The base-snapshot build body — `nBucketsOverride` lets the spec pin
    * answer identity across two bucket counts on one corpus; production
    * builds size the count with the corpus ([[bucketCountFor]]). */
  private[queries] def buildBasePostings(s: SparkSession, dir: String,
      tmp: java.nio.file.Path, nBucketsOverride: Option[Long]): Unit = {
    import graft.operators.PersistedIndex
    val split = PersistedIndex.idWatermark(t(s, dir, "documents"), "doc_id")
    val nBk = nBucketsOverride.getOrElse(bucketCountFor(
      t(s, dir, "documents").filter(col("doc_id") <= split).select("doc_id").count()))
    val tf0 = tfTable(s, dir).filter(col("doc_id") <= split)
    val dl = tf0.groupBy("doc_id").agg(sum("tf").as("dl")).localCheckpoint(true)
    // postings carry the doc length (the norms-with-postings layout) —
    // a build-time join so no serve ever joins the corpus-sized doclen
    val tf = tf0.join(dl, Seq("doc_id"))
      .withColumn("bucket", pmod(detHash(col("word")), lit(nBk)))
    PersistedIndex.writeArtifacts(
      () => graft.sources.Layout.writePartitioned(
        tf, tmp.resolve("postings").toString, "bucket", "word"),
      () => dl.write.mode("overwrite").parquet(tmp.resolve("doclen").toString),
      () => dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
        .withColumn("split_id", lit(split))
        .withColumn("n_buckets", lit(nBk))
        .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
  }

  /** The postings family's change-set merge: the post-change
    * (postings, doclen, stats) frames of `home` once the `dead` ids leave
    * and `freshTf` — the fresh rows' [[termFreqs]] — enters. `postings`
    * (doc_id, word, tf, dl) is the home's base postings: bucket-pruned by
    * a serve, whole by the fold. Document segments are
    * disjoint, so postings and doclen merge as an anti-join plus a union
    * and the one-row stats (n_docs, total_dl) as exact Long sums, base −
    * dead + fresh. The serves ([[bm25Serve]], [[batchServe]]) query these
    * frames and [[foldPostingsArtifacts]] writes them, so the answer over
    * a folded generation is the answer over its parent plus the change
    * set. */
  private def mergePostings(s: SparkSession, home: java.nio.file.Path,
      postings: DataFrame, dead: DataFrame,
      freshTf: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val doclen = graft.operators.PersistedIndex.artifactFrame(s, home, "doclen")
    val st = graft.operators.PersistedIndex.statsRow(s, home)
    val (nB, dlB) = (st.getAs[Long]("n_docs"), st.getAs[Long]("total_dl"))
    val freshDl = freshTf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val deadStats = doclen.join(dead, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_dead"), coalesce(sum("dl"), lit(0L)).as("dl_dead"))
    val freshStats = freshDl
      .agg(count(lit(1)).as("n_fresh"), coalesce(sum("dl"), lit(0L)).as("dl_fresh"))
    (postings.select("doc_id", "word", "tf", "dl")
      .join(dead, Seq("doc_id"), "left_anti")
      // a LEFT join on freshDl's unique doc_id: a consumer that drops `dl`
      // drops the join with it (the optimizer's unique-key join removal)
      .unionByName(freshTf.join(broadcast(freshDl), Seq("doc_id"), "left")),
     doclen.join(dead, Seq("doc_id"), "left_anti").unionByName(freshDl),
     deadStats.crossJoin(freshStats)
      .select((lit(nB) - col("n_dead") + col("n_fresh")).as("n_docs"),
        (lit(dlB) - col("dl_dead") + col("dl_fresh")).as("total_dl")))
  }

  /** A fresh segment's (doc_id, word, tf), materialized once: a serve or
    * fold reads it from several legs (postings, doclen, stats, df). */
  private def freshTfOf(s: SparkSession, fresh: DataFrame): DataFrame =
    graft.operators.CdcRules.pinDerived(s, fresh, termFreqs(fresh))

  /** Single-query BM25 over a postings home plus a change set: ir6's
    * top-20 over the [[mergePostings]] frames, with the base postings read
    * bucket-pruned to `qterms` and the term filter pushed into the fresh
    * leg. The fold writes the frames this serve merges, so the answer is
    * bit-equal to a full rebuild over (base ∖ dead) ∪ fresh. ir10 passes
    * (∅, appends); ir14 the [[graft.operators.CdcRules]] change set; the
    * expunged serve (∅, ∅) against a CDC-folded generation. Callers whose
    * fresh side is the standard append delta or sized feed pass the
    * session-shared tokenization ([[sharedFreshTf]]). */
  private[graft] def bm25Serve(s: SparkSession, home: java.nio.file.Path,
      dead: DataFrame, fresh: DataFrame, qterms: Seq[String],
      freshTfShared: Option[DataFrame] = None): DataFrame = {
    val (postings, dl, stats) = mergePostings(s, home,
      prunedArtifact(s, home, "postings", qterms), dead,
      freshTfShared.getOrElse(freshTfOf(s, fresh)))
    val tf3 = postings.where(col("word").isInCollection(qterms)).select("doc_id", "word", "tf")
    bm25TopK(tf3, dl, stats.crossJoin(termDfs(tf3, qterms)), qterms, 20)
  }

  /** A fresh segment's pinned (doc_id, word, tf), session-shared per
    * (home, derivation tag): serves that consume the IDENTICAL fresh frame
    * would otherwise each pay their own eager checkpoint job per call.
    * Keyed by the home path (fingerprint + generation) and a tag naming
    * the derivation, so different fresh classes never mix:
    * "append_fresh_tf" (ir10 solo + ir16/ir24 batch — the raw append
    * delta) and "sizedfeed_fresh_tf" (ir22/ir23 — the crawl-window feed
    * split). Amortized warm cost is the by-design steady state the Bench
    * scaladoc documents (the bm25_core convention); the first toucher
    * still pays and reports the full build. */
  private def sharedFreshTf(s: SparkSession, home: java.nio.file.Path,
      tag: String, fresh: DataFrame): DataFrame =
    // the analyzed-plan semanticHash binds the cache entry to the fresh
    // frame's actual DERIVATION, so a future caller reusing a tag with a
    // different fresh frame gets its own pin instead of silently reading
    // the first caller's rows
    graft.operators.SessionShare.cached(s, home.toString,
      tag + "_" + fresh.queryExecution.analyzed.semanticHash())(freshTfOf(s, fresh))

  private def appendFreshTf(s: SparkSession, home: java.nio.file.Path,
      delta: DataFrame): DataFrame =
    sharedFreshTf(s, home, "append_fresh_tf", delta)

  /** (result, snapshot watermark) — split out so the spec can swap in a
    * crafted corpus and selective terms, and read the watermark back. */
  private[queries] def ir10Internals(s: SparkSession, dir: String,
      qterms: Seq[String]): (DataFrame, Long) = {
    // the ONLY corpus access: the delta segment, behind a pushed range
    // predicate — tokenization cost is delta-proportional
    val (home, dead, delta) =
      IndexMaintenance.serving(s, dir, IndexMaintenance.Postings, Appends)
    (bm25Serve(s, home, dead, delta, qterms,
      freshTfShared = Some(appendFreshTf(s, home, delta))),
      graft.operators.PersistedIndex.readSplit(s, home))
  }

  /** ir14_tombstone_index — tombstone/UPDATE-aware incremental serving, the
    * production-semantics face ir10 stops short of (VERDICT r13 #2 / r14
    * next-round #2): real crawls RE-crawl, so the in-flight change set is
    * not append-only — documents get deleted and updated between snapshot
    * rebuilds, and the served answer must reflect the post-change corpus
    * without rebuilding the base. Reference anchor: the skip-marker
    * idempotency convention in `scrapping/papers_download.py:49-61` (a
    * re-crawled paper replaces its prior artifact); set2_upsert carries the
    * same row-level CDC semantics on the relational side.
    *
    * CDC model: the [[graft.operators.CdcRules]] deterministic stand-in
    * feed (deletes tombstoned, updates re-crawled to the text 'redacted'
    * so old tokens stop matching, appends = ir10's delta segment), derived
    * at the corpus feed watermark so the DuckDB oracle replays it exactly.
    * Serving folds all three against the PERSISTED snapshot:
    *   postings' = (pruned base postings ⟕̸ tombstones) ∪ fresh postings
    *   doclen'   = (base doclen ⟕̸ tombstones) ∪ fresh doclen
    *   stats'    = base stats − tombstoned (count, Σdl) + fresh (count, Σdl)
    * where tombstones = deletes ∪ updates (an update is delete + re-add)
    * and fresh = updated texts ∪ delta appends — the only rows tokenized
    * at serve time. Per-term df and the corpus stats are exact Long sums,
    * so a tombstoned doc SUBTRACTS exactly and the merged answer is
    * bit-equal to a full rebuild over the post-change corpus (the oracle:
    * ir6's SQL over the post-change corpus CTE). Scale shape: the base is
    * served from bucket-pruned persisted postings; the tombstone subtract
    * is an anti-join on doc ids (the id-only corpus scan below stands in
    * for the CDC feed's key set — column-pruned, no text bytes move);
    * tokenization touches only updated + delta rows. */
  def ir14TombstoneIndex(s: SparkSession, dir: String): DataFrame =
    ir14Internals(s, dir, RetrievalQTerms)._1

  private[graft] def postingsFp(dir: String): String =
    // v2: postings rows CARRY the document length (Lucene's
    // norms-with-postings convention) so the batched serve never joins
    // the corpus-sized doclen artifact; v1 stored (doc_id, word, tf) only
    "v2_" + graft.operators.PersistedIndex.tableFingerprint(dir, "documents")

  /** (result, feed watermark) — split out so the spec can replay a crafted
    * corpus where the pre-update winner must vanish. The change set derives
    * at the CORPUS feed watermark ([[graft.operators.CdcRules.feedSplit]] —
    * what the oracle recomputes in SQL), never at the persisted snapshot's:
    * a compaction may move the snapshot watermark to the max id, and the
    * serve stays oracle-identical because the base artifacts then already
    * CONTAIN the appends (the fresh-append leg keys on the snapshot
    * watermark, the dead/update legs on the feed's). When a CDC-folded
    * generation for this exact feed watermark exists
    * ([[IndexMaintenance.compactCdc]]), serving skips the subtract
    * arithmetic entirely: both frames are EMPTY LocalRelations, the
    * optimizer erases the anti-joins, and the plan reads persisted
    * artifacts only. Otherwise the tombstones are deletes ∪ updates' old
    * versions (id-only), and the fresh rows — the ONLY text tokenized at
    * serve time — are the updated docs' re-crawled text plus the
    * not-yet-folded append segment. */
  private[queries] def ir14Internals(s: SparkSession, dir: String,
      qterms: Seq[String]): (DataFrame, Long) = {
    val fam = IndexMaintenance.Postings
    val wStar = IndexMaintenance.feedSplit(s, dir, fam)
    val (home, dead, fresh) = IndexMaintenance.serving(s, dir, fam, Tombstones, Some(wStar))
    (bm25Serve(s, home, dead, fresh, qterms), wStar)
  }

  /** The postings family's fold: it writes, as a new generation, the
    * frames [[bm25Serve]] and [[batchServe]] merge ([[mergePostings]]),
    * taken over the whole base artifacts. Used by
    * [[IndexMaintenance.compactCdc]] (rule-derived change set),
    * [[IndexMaintenance.foldAppends]] (no dead, appends fresh) and the
    * streaming loop (segment-derived change set). Only the fresh rows are
    * tokenized; base postings are copied from parquet, re-bucketed under
    * the parent's modulus. */
  private[graft] def foldPostingsArtifacts(s: SparkSession, tmp: java.nio.file.Path,
      cur: java.nio.file.Path, dead: DataFrame, fresh: DataFrame, split: Long): Unit = {
    import graft.operators.PersistedIndex
    val nBk = readBuckets(s, cur)
    val (postings, doclen, stats) = mergePostings(s, cur,
      PersistedIndex.artifactFrame(s, cur, "postings"), dead, freshTfOf(s, fresh))
    PersistedIndex.writeArtifacts(
      () => graft.sources.Layout.writePartitioned(
        postings.withColumn("bucket", pmod(detHash(col("word")), lit(nBk))),
        tmp.resolve("postings").toString, "bucket", "word"),
      () => doclen.write.mode("overwrite").parquet(tmp.resolve("doclen").toString),
      () => stats.withColumn("split_id", lit(split))
        .withColumn("n_buckets", lit(nBk))
        .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
  }

  /** ir14b_expunged_serve — the post-compaction face of ir14: run the
    * CDC-expunge fold, then serve. The answer is byte-identical to ir14's
    * subtract path (same oracle — that identity IS the expunge contract),
    * but the probe plan carries empty tombstone/fresh frames and touches
    * persisted artifacts only. */
  def ir14bExpungedServe(s: SparkSession, dir: String): DataFrame = {
    IndexMaintenance.compactCdc(s, dir, IndexMaintenance.Postings)
    ir14Internals(s, dir, RetrievalQTerms)._1
  }

  /** ir6's full BM25 chain over an arbitrary corpus CTE — the oracle twin
    * of [[bm25Serve]], shared by the tombstone, expunged and feed-table
    * faces (each splices its own post-change corpus in front). */
  private def bm25OverCorpusSql(corpusCtes: String, corpusName: String): String = {
    val qterms = RetrievalQTerms
    val avgdl = "(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    def termScore(q: String) = {
      val tf = s"CAST(COALESCE(p.tf_$q, 0) AS DOUBLE)"
      val df = s"CAST(df_$q AS DOUBLE)"
      val idf = s"ln((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5) + 1.0)"
      s"$idf * ($tf * (1.2 + 1.0)) / ($tf + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(d.dl AS DOUBLE) / $avgdl)))"
    }
    val score = qterms.map(termScore).mkString(" + ")
    val pivCols = qterms.map(q =>
      s"MAX(CASE WHEN word = '$q' THEN tf END) AS tf_$q").mkString(",\n  ")
    val dfCols = qterms.map(q =>
      s"CAST(SUM(CASE WHEN word = '$q' THEN 1 ELSE 0 END) AS BIGINT) AS df_$q").mkString(",\n  ")
    val inList = qterms.map(q => s"'$q'").mkString(", ")
    s"""WITH $corpusCtes,
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM $corpusName),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
       |dlt AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |tf3 AS (SELECT * FROM tf WHERE word IN ($inList)),
       |piv AS (SELECT doc_id,
       |  $pivCols
       |  FROM tf3 GROUP BY doc_id),
       |st AS (SELECT
       |  (SELECT COUNT(*) FROM dlt) AS n_docs,
       |  (SELECT CAST(SUM(dl) AS BIGINT) FROM dlt) AS total_dl,
       |  $dfCols
       |  FROM tf3)
       |SELECT d.doc_id, d.dl, CAST(ROUND(($score) * 1e6) AS BIGINT) AS bm25_e6
       |FROM dlt d LEFT JOIN piv p USING (doc_id) CROSS JOIN st
       |ORDER BY bm25_e6 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** ir6's BM25 SQL replayed over the POST-CHANGE corpus: the watermark is
    * recomputed in SQL (MAX − (MAX−MIN)//10 — DuckDB's `//` floors, Spark's
    * Long `/` truncates; doc ids are non-negative so both agree), deletes
    * drop out of the corpus CTE, updates swap in the re-crawled text. */
  val ir14TombstoneIndexSql: String = bm25OverCorpusSql(
    graft.operators.CdcRules.sqlCorpusCtes("corpus", "'redacted'"), "corpus")

  /** ir15_feed_index — PARAMETERIZED change-feed serving (VERDICT r15 #4):
    * the change set arrives as an explicit feed TABLE (doc_id, op,
    * payload) instead of rules woven into the plan — the production CDC
    * contract, where the crawler emits the feed
    * ([[graft.streaming.EventStreams.cdcStream]] is the generator here,
    * so the DuckDB oracle replays the same table; reference anchor: the
    * skip-marker idempotency of `scrapping/papers_download.py:49-61` is
    * the 's' op). The serve consumes ONLY the
    * [[graft.operators.CdcRules.feedFrames]] split of the feed: 'd'/'u'
    * ids tombstone, 'u'/'a' payloads re-index, 's' rows are ignored —
    * R16QueriesSpec proves the arithmetic is feed-agnostic by serving a
    * hand-written feed no rule set generated. */
  def ir15FeedIndex(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, IndexMaintenance.Postings, Feed)

  /** ir22_sized_feed — ir15 at a CRAWL-SIZED batch (VERDICT r16 #2): the
    * feed generator takes a batch bound ([[graft.operators.CdcRules
    * .sizedFeed]] over the cdcStream table), so the change set — and with
    * it the fresh-leg tokenization, the tombstone anti-join build side,
    * and the stat deltas — is O([[graft.operators.CdcRules.CrawlWindow]])
    * rows no matter the corpus size: the face that prices what one
    * production refresh cycle actually costs on the sf1→sf10 ladder,
    * where ir15's fixed-FRACTION feed reads linear-in-corpus. The window
    * is pure id arithmetic, replayed by the oracle; at the correctness
    * SFs it covers the whole corpus and ir22 ≡ ir15 by construction. */
  def ir22SizedFeed(s: SparkSession, dir: String): DataFrame = {
    val (home, dead, fresh) =
      IndexMaintenance.serving(s, dir, IndexMaintenance.Postings, SizedFeed)
    // the sized window's fresh tokenization is shared with ir23 (identical
    // feedFrames derivation over the identical sized feed)
    bm25Serve(s, home, dead, fresh, RetrievalQTerms,
      freshTfShared = Some(sharedFreshTf(s, home, "sizedfeed_fresh_tf", fresh)))
  }

  /** The sized-feed corpus CTEs: ir15's feed-assembled corpus with the
    * crawl window applied to the feed table — exactly what the Spark side
    * serves. Shared by ir22 and ir23. */
  private lazy val sizedFeedCorpusCtes: String = {
    val w = graft.operators.CdcRules.CrawlWindow
    s"""${graft.operators.CdcRules.sqlFeedCtes("feed")},
       |feedw AS (
       |  SELECT f.* FROM feed f CROSS JOIN w
       |  WHERE f.doc_id > w.split - $w AND f.doc_id <= w.split + $w),
       |corpusw AS (
       |  SELECT d.doc_id, d.text FROM documents d CROSS JOIN w
       |  WHERE d.doc_id <= w.split
       |    AND d.doc_id NOT IN (SELECT doc_id FROM feedw WHERE op IN ('d', 'u'))
       |  UNION ALL
       |  SELECT doc_id, payload AS text FROM feedw WHERE op IN ('u', 'a'))""".stripMargin
  }

  lazy val ir22SizedFeedSql: String = bm25OverCorpusSql(sizedFeedCorpusCtes, "corpusw")

  /** ir23_sized_query_batch — ir20's batch × CDC shape at the crawl-sized
    * feed: 12 queries ride one plan whose fresh leg tokenizes O(window)
    * rows (the ir16-fresh-leg pricing VERDICT r16 #2 asks for). */
  def ir23SizedQueryBatch(s: SparkSession, dir: String): DataFrame = {
    val (home, dead, fresh) =
      IndexMaintenance.serving(s, dir, IndexMaintenance.Postings, SizedFeed)
    batchServe(s, home, dead, fresh, BatchQueries, BatchTopK,
      freshTfShared = Some(sharedFreshTf(s, home, "sizedfeed_fresh_tf", fresh)))
  }

  lazy val ir23SizedQueryBatchSql: String =
    batchSqlOver(sizedFeedCorpusCtes + ",\n", "corpusw")

  /** The feed-table oracle: the feed CTE is generated by the same rules
    * (the generator half), the corpus is then assembled FROM THE FEED —
    * base survivors below the watermark, plus 'u'/'a' payload rows. */
  val ir15FeedIndexSql: String = bm25OverCorpusSql(
    s"""${graft.operators.CdcRules.sqlFeedCtes("feed")},
       |corpus AS (
       |  SELECT d.doc_id, d.text FROM documents d CROSS JOIN w
       |  WHERE d.doc_id <= w.split
       |    AND d.doc_id NOT IN (SELECT doc_id FROM feed WHERE op IN ('d', 'u'))
       |  UNION ALL
       |  SELECT doc_id, payload AS text FROM feed WHERE op IN ('u', 'a'))""".stripMargin,
    "corpus")

  /** ir16's query batch: the production QPS shape — many queries served
    * through the persisted postings index in ONE plan. Terms are drawn
    * from the corpus generator's vocabulary so every query has hits at
    * every SF; ids are explicit (stable across reorderings). */
  private[queries] val BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("data", "table", "scan"),
    1L -> Seq("hash", "join"),
    2L -> Seq("sort", "merge", "join"),
    3L -> Seq("window", "agg"),
    4L -> Seq("stream", "batch"),
    5L -> Seq("column", "row", "vector"),
    6L -> Seq("filter", "scan"),
    7L -> Seq("query", "fast", "slow"),
    8L -> Seq("group", "order", "key"),
    9L -> Seq("spark", "part"),
    10L -> Seq("big", "small", "value"),
    11L -> Seq("customer", "line"))

  private[queries] val BatchTopK = 10

  /** The 100-query table for the batch-axis pricing face (VERDICT r16
    * #9): deterministic index arithmetic over the corpus vocabulary (the
    * same mined word list the 12-query table draws from), so Spark and
    * the oracle replay the identical table and the per-query marginal
    * cost can be priced at 12 vs 100 queries on the ladder. */
  private[queries] lazy val Batch100: Seq[(Long, Seq[String])] = {
    val vocab = (BatchQueries.flatMap(_._2) ++
      PhraseBatch.flatMap(b => Seq(b._2, b._3))).distinct.sorted
    (0L until 100L).map { i =>
      val n = 2 + (i % 3L).toInt // 2–4 terms per query
      i -> (0 to n).map(j => vocab(((i * 7 + j * 13) % vocab.length).toInt))
        .distinct.toSeq
    }
  }

  /** ir16_query_batch — BATCHED retrieval serving (VERDICT r15 #5): the
    * whole query table rides ONE plan instead of one plan per query —
    * the missing symmetry with the ANN family's NQueries probe batch.
    * Plan shape: ONE bucket-pruned read of the persisted postings for the
    * UNION of all query terms (the per-term df falls out of the same
    * read), ONE delta tokenization (amortized across the batch, the ir10
    * merge), a broadcast join against the ~30-row (query_id, term) map,
    * a per-(query, doc) partial-aggregated score sum, and the k-bounded
    * native TopK per query_id — map-side partials carry ≤ queries×k rows.
    * Marginal per-query cost is one broadcast probe over the already-read
    * term postings: sub-linear vs running ir6 once per query, which is
    * the entire point of batching (bench note in BASELINE.md).
    *
    * Semantics: BM25 over candidate docs (≥1 query term present — absent
    * terms contribute idf·0 = 0, and all-absent docs score 0, so ranking
    * among candidates equals full-corpus ranking for every rank that
    * matters), top-[[BatchTopK]] per query by (score desc, doc_id). */
  def ir16QueryBatch(s: SparkSession, dir: String): DataFrame =
    ir16Internals(s, dir, BatchQueries, BatchTopK)

  /** Parameterized so the spec can assert the batching property: each
    * query's slice of a batched run is bit-equal to running it alone. */
  private[queries] def ir16Internals(s: SparkSession, dir: String,
      batch: Seq[(Long, Seq[String])], k: Int): DataFrame = {
    val (home, dead, delta) =
      IndexMaintenance.serving(s, dir, IndexMaintenance.Postings, Appends)
    batchServe(s, home, dead, delta, batch, k,
      freshTfShared = Some(appendFreshTf(s, home, delta)))
  }

  /** The batched BM25 serve — [[bm25Serve]]'s many-query sibling over the
    * same [[mergePostings]] frames (the fold writes the frames this serve
    * merges): one bucket-pruned postings read for the whole batch's term
    * union (per-term df falls out of the same read; postings carry the
    * doc length, so nothing joins the corpus-sized doclen artifact), the
    * fresh rows tokenized ONCE for the entire batch, and the k-bounded
    * native TopK serving every query from one plan. ir16 passes
    * (∅, appends); ir20 the [[graft.operators.CdcRules]] change set. */
  private def batchServe(s: SparkSession, home: java.nio.file.Path,
      dead: DataFrame, fresh: DataFrame,
      batch: Seq[(Long, Seq[String])], k: Int,
      freshTfShared: Option[DataFrame] = None): DataFrame = {
    val allTerms = batch.flatMap(_._2).distinct.sorted
    val qt = batchTerms(s, batch)
    val (postings, _, stats) = mergePostings(s, home,
      prunedArtifact(s, home, "postings", allTerms), dead,
      freshTfShared.getOrElse(freshTfOf(s, fresh)))
    val tfAll = postings.where(col("word").isInCollection(allTerms))
    val df = tfAll.groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tfAll
      .join(qt, Seq("word"))
      .join(broadcast(df), Seq("word"))
      .crossJoin(broadcast(stats))
    val termScore = bm25Term(col("tf"), col("df"), col("n_docs"), col("dl"), statsAvgdl)
    // additive over the query's matched terms; e6-rounded AFTER the sum so
    // both engines round an identical double once
    val perQueryDoc = scored
      .select(col("query_id"), col("doc_id"), termScore.as("ts"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("ts") * 1e6).cast(LongType).as("bm25_e6"))
    graft.operators.TopK.smallestPerGroup(perQueryDoc, Seq("query_id"), k,
        -col("bm25_e6"), col("doc_id"), keyName = "neg_e6", idName = "doc_id")
      .select(col("query_id"), col("rank"), col("doc_id"), (-col("neg_e6")).as("bm25_e6"))
      .orderBy("query_id", "rank")
  }

  /** A query batch as a broadcast (query_id, word) table. */
  private def batchTerms(s: SparkSession, batch: Seq[(Long, Seq[String])]): DataFrame = {
    import s.implicits._
    broadcast(batch.flatMap { case (qid, ts) => ts.map(w => (qid, w)) }.toDF("query_id", "word"))
  }

  /** ir20_cdc_query_batch — the batch × CDC composition, the TRUE
    * production QPS shape: the whole query table serves the POST-CHANGE
    * corpus in one plan. [[batchServe]] with the
    * [[graft.operators.CdcRules]] change set (the postings family's
    * 'redacted' update convention — BM25 is order-free, so a reversal
    * would be invisible to it); resolves the expunged generation when
    * one exists (ir14's branch) and then serves persisted-only. */
  def ir20CdcQueryBatch(s: SparkSession, dir: String): DataFrame = {
    val (home, dead, fresh) =
      IndexMaintenance.serving(s, dir, IndexMaintenance.Postings, Tombstones)
    batchServe(s, home, dead, fresh, BatchQueries, BatchTopK)
  }

  val ir16QueryBatchSql: String = batchSqlOver("", "documents")

  /** ir24_query_batch100 — the batch AXIS extended to 100 queries
    * (VERDICT r16 #9): same one-plan serving kernel as ir16, ~8× the
    * query table. The term-union postings read and the single fresh
    * tokenization amortize across all 100 queries, so the marginal
    * per-query cost falls further below the solo-run price — the row
    * BASELINE.md records at 12 vs 100 queries per SF. */
  def ir24QueryBatch100(s: SparkSession, dir: String): DataFrame =
    ir16Internals(s, dir, Batch100, BatchTopK)

  lazy val ir24QueryBatch100Sql: String = batchSqlOver("", "documents", Batch100)

  /** ir26_blockmax_batch — the batch axis × the block-max skip list: 100
    * queries served top-k with PER-QUERY block pruning (Ding & Suel 2011
    * Block-Max WAND, batched). ir24's exact batch kernel is
    * df-PROPORTIONAL by contract — on the Zipf skew corpus a stopword
    * query scores ~every document (measured: 23 s at 500k docs for the
    * 100-query batch, BASELINE "Skew at scale") — while this face scores
    * only documents inside blocks whose per-query bound can still beat
    * that query's running threshold. Per query q: (1) bound_q(blk) =
    * Σ_{t∈q} ub_e6(t, blk) over the SAME bucket-pruned blockmax read that
    * serves every query; (2) the best-bound block seeds θ_q = its k-th
    * exact score (one ≤|batch|·k bounded collect — the ir7 class); (3)
    * only (q, blk) pairs with bound_q ≥ θ_q are scored. Soundness per
    * pair: round(1e6·Σ ts) ≤ Σ ceil(1e6·ts) ≤ bound, so a pruned block
    * cannot hold a top-k member — and a query whose seed cannot certify k
    * strictly-positive scores ([[blockmaxCertified]]) gets θ_q = 0, which
    * keeps all its matched blocks: that query degrades to ir24's exact
    * scoring INSIDE the same plan, no second path. Pruning is therefore
    * invisible to the answer and the oracle IS ir24's SQL.
    *
    * The WAND effect on skewed corpora: a stopword's idf ≈ 0 makes its
    * per-block bound contribution tiny, so θ_q (driven by the query's
    * rarer terms) prunes exactly the stopword-only blocks that ir24 must
    * score — the skip path's advantage GROWS with df skew. */
  /** ir26's 100-query table — the WAND-shaped mix: most queries pair 1–2
    * HEAD-vocabulary terms with one deterministic TAIL term (`wNNNNN`, the
    * Zipf tail of the skew corpora's 10k vocabulary; absent from the
    * uniform oracle corpora, where an absent term simply contributes no
    * postings on both engines). Production query logs are this shape —
    * a stopword plus the selective terms that carry the intent — and it
    * is exactly where block-max separates: θ_q is idf(tail)-driven, so
    * stopword-only blocks prune. Every 5th query stays pure-head (the
    * degenerate all-common mix, which must degrade gracefully, not
    * break). Deterministic index arithmetic; the oracle replays the
    * identical table. */
  private[queries] lazy val Batch100Wand: Seq[(Long, Seq[String])] = {
    val head = (BatchQueries.flatMap(_._2) ++
      PhraseBatch.flatMap(b => Seq(b._2, b._3))).distinct.sorted
    (0L until 100L).map { i =>
      val h1 = head(((i * 7 + 3) % head.length).toInt)
      val h2 = head(((i * 11 + 5) % head.length).toInt)
      val tail = f"w${30 + ((i * 97 + 13) % 9970)}%05d"
      val terms =
        if (i % 5 == 0) Seq(h1, h2).distinct
        else (Seq(h1, tail) ++ (if (i % 3 == 0) Seq(h2) else Nil)).distinct
      i -> terms
    }
  }

  def ir26BlockmaxBatch(s: SparkSession, dir: String): DataFrame =
    blockmaxBatchServe(s, dir, Batch100Wand, BatchTopK)._1

  lazy val ir26BlockmaxBatchSql: String =
    batchSqlOver("", "documents", Batch100Wand)

  /** (result, kept (query, blk) pairs, all matched (query, blk) bounds) —
    * internals exposed so R20QueriesSpec can measure real pruning. */
  private[queries] def blockmaxBatchServe(s: SparkSession, dir: String,
      batch: Seq[(Long, Seq[String])], k: Int): (DataFrame, DataFrame, DataFrame) = {
    import graft.operators.{PersistedIndex, TopK}
    val home = ensurePostingsIndex(s, dir)
    val st = PersistedIndex.statsRow(s, home)
    val (nB, dlB) = (st.getAs[Long]("n_docs"), st.getAs[Long]("total_dl"))
    val allTerms = batch.flatMap(_._2).distinct.sorted
    val qt = batchTerms(s, batch)
    val tf = prunedArtifact(s, home, "postings", allTerms).select("doc_id", "word", "tf")
    val dl = PersistedIndex.artifactFrame(s, home, "doclen")
    // full-corpus df from the same pruned read — identical to the oracle's
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val termScore = bm25Term(col("tf"), col("df"), lit(nB), col("dl"),
      lit(dlB).cast(DoubleType) / lit(nB).cast(DoubleType))
    // exact per-(query, doc) scores over a (query_id, blk) candidate
    // frame. Join ORDER is the point: the (query, term, kept-block) probe
    // is built FIRST (kept-bounded — tiny once pruning bites) and the
    // postings meet it on (word, blk), so a stopword's posting list fans
    // out per query ONLY inside that query's kept blocks. The naive
    // spelling (tf ⋈ queries, then filter by kept) materializes
    // |stopword df| × |queries containing it| rows before pruning —
    // measured 39M-row blowup on the skew corpus, which made pruning
    // free but worthless. AQE broadcasts the probe when it is small.
    def scoredPairs(cand: DataFrame): DataFrame = {
      val probe = qt.join(cand, Seq("query_id")).select("query_id", "word", "blk")
      tf.withColumn("blk", expr(s"doc_id div $Ir9Block"))
        .join(probe, Seq("word", "blk"))
        .join(broadcast(df), Seq("word"))
        .join(dl, Seq("doc_id"))
        .select(col("query_id"), col("doc_id"), termScore.as("ts"))
        .groupBy("query_id", "doc_id")
        .agg(round(sum("ts") * 1e6).cast(LongType).as("bm25_e6"))
    }
    val bounds = prunedArtifact(s, home, "blockmax", allTerms).join(qt, Seq("word"))
      .groupBy("query_id", "blk").agg(sum("ub_e6").as("bound_e6"))
    val seeds = TopK.smallestPerGroup(bounds, Seq("query_id"), 1,
        -col("bound_e6"), col("blk"), keyName = "negb_e6", idName = "blk")
      .select("query_id", "blk")
    // r22 (VERDICT r21 #4): θ_q folds INTO the kept plan instead of a
    // driver-synchronized seed collect — one job per serve where two ran.
    // Per query: kth = the k-th exact seed score = −max(neg_e6) over the
    // TopK rows, certified exactly as [[blockmaxCertified]] spells it
    // (count == k ∧ kth > 0, else θ_q = 0 — the query degrades to exact
    // scoring inside the same plan). A query with NO seed-scored rows gets
    // no theta row; the left join + coalesce(0) below reproduces the old
    // driver map's θ_q = 0 for it. The bounds aggregation's Exchange now
    // appears in both the seed and kept legs of ONE plan, so
    // ReuseExchange computes it once — the two-job spelling paid it twice.
    val seedTop = TopK.smallestPerGroup(scoredPairs(broadcast(seeds)),
        Seq("query_id"), k, -col("bm25_e6"), col("doc_id"),
        keyName = "neg_e6", idName = "doc_id")
    val thetas = seedTop.groupBy("query_id")
      .agg(count(lit(1)).as("__n"), (-max(col("neg_e6"))).as("__kth"))
      .select(col("query_id"),
        when(col("__n") === k && col("__kth") > 0L, col("__kth"))
          .otherwise(0L).as("theta"))
    val kept = bounds.join(broadcast(thetas), Seq("query_id"), "left")
      .filter(col("bound_e6") >= coalesce(col("theta"), lit(0L)))
      .select("query_id", "blk")
    val res = TopK.smallestPerGroup(scoredPairs(kept), Seq("query_id"), k,
        -col("bm25_e6"), col("doc_id"), keyName = "neg_e6", idName = "doc_id")
      .select(col("query_id"), col("rank"), col("doc_id"),
        (-col("neg_e6")).as("bm25_e6"))
      .orderBy("query_id", "rank")
    (res, kept, bounds)
  }

  /** ir16's SQL over the POST-CHANGE corpus — ir20's oracle. */
  val ir20CdcQueryBatchSql: String = batchSqlOver(
    graft.operators.CdcRules.sqlCorpusCtes("corpus20", "'redacted'") + ",\n", "corpus20")

  private def batchSqlOver(corpusCtes: String, corpusName: String,
      batch: Seq[(Long, Seq[String])] = BatchQueries): String = {
    val qtValues = batch
      .flatMap { case (qid, ts) => ts.map(w => s"($qid, '$w')") }.mkString(", ")
    val inList = batch.flatMap(_._2).distinct.sorted.map(w => s"'$w'").mkString(", ")
    s"""WITH ${corpusCtes}tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM $corpusName),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
       |dlt AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dlt),
       |tfq AS (SELECT * FROM tf WHERE word IN ($inList)),
       |dfq AS (SELECT word, COUNT(*) AS df FROM tfq GROUP BY word),
       |qt(query_id, word) AS (VALUES $qtValues),
       |scored AS (
       |  SELECT qt.query_id, t.doc_id,
       |    CAST(ROUND(SUM(
       |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |         / (CAST(df AS DOUBLE) + 0.5) + 1.0)
       |      * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
       |      / (CAST(t.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75
       |         * (CAST(d.dl AS DOUBLE)
       |            / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       |    ) * 1e6) AS BIGINT) AS bm25_e6
       |  FROM tfq t
       |  JOIN qt ON qt.word = t.word
       |  JOIN dfq ON dfq.word = t.word
       |  JOIN dlt d ON d.doc_id = t.doc_id
       |  CROSS JOIN st
       |  GROUP BY qt.query_id, t.doc_id),
       |rk AS (SELECT query_id, doc_id, bm25_e6,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY bm25_e6 DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id, bm25_e6
       |FROM rk WHERE rank <= $BatchTopK ORDER BY query_id, rank""".stripMargin
  }

  /** ir11's phrase — adjacent terms, present in ~7% of documents at every
    * SF (the corpus is generated from a vocabulary of query-engine words). */
  private[queries] val PhraseTerms: (String, String) = ("table", "scan")

  /** One POSITIONAL postings table per (session, dir) — the tfTable's
    * richer sibling: per (doc, word), the sorted 1-based token positions.
    * This is the index layout phrase and proximity queries are served
    * from (Lucene's positions stream); building it is one corpus scan +
    * one doc-keyed shuffle, and every phrase query thereafter touches only
    * its own terms' position lists. */
  private[queries] def posTable(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionShare.materialized(s, dir, "pos_table")(
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
        .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"), col("word"))
        .groupBy("doc_id", "word")
        .agg(sort_array(collect_list("pos")).as("positions")))

  /** ir11_phrase_query — exact PHRASE search from positional postings, the
    * classic next face of the ir5/ir6 index family (tf-only postings can
    * rank "table ... scan" but cannot assert ADJACENCY): a two-term phrase
    * matches where some position p of the first term has p+1 among the
    * second term's positions. The join touches only the two terms'
    * position lists (never the corpus — the posTable is the session pin
    * standing in for the persisted positions stream); the adjacency test
    * is an array intersect over per-doc position lists, bounded by doc
    * length. Output: matching docs with occurrence counts and the first
    * match position (1-based). */
  def ir11PhraseQuery(s: SparkSession, dir: String): DataFrame = {
    val (w1, w2) = PhraseTerms
    val pt = posTable(s, dir)
    val p1 = pt.filter(col("word") === w1).select(col("doc_id"), col("positions").as("pos1"))
    val p2 = pt.filter(col("word") === w2).select(col("doc_id"), col("positions").as("pos2"))
    p1.join(p2, Seq("doc_id"))
      .select(col("doc_id"),
        size(array_intersect(transform(col("pos1"), p => p + 1), col("pos2")))
          .cast(LongType).as("n_matches"),
        array_min(filter(col("pos1"),
          p => array_contains(col("pos2"), p + 1))).as("first_pos"))
      .filter(col("n_matches") > 0)
      .orderBy("doc_id")
  }

  val ir11PhraseQuerySql: String = {
    val (w1, w2) = PhraseTerms
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |m AS (SELECT doc_id,
       |    list_filter(range(1, len(toks)), i -> toks[i] = '$w1' AND toks[i + 1] = '$w2') AS hits
       |  FROM tok)
       |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
       |  CAST(hits[1] AS BIGINT) AS first_pos
       |FROM m WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin
  }

  /** Per-doc BM25 of the PHRASE terms (ta13's exact arithmetic over
    * [[PhraseTerms]]), pinned once — the scoring side of the
    * retriever-training faces. */
  private[queries] def phraseBm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionShare.materialized(s, dir, "phrase_bm25")(
      bm25ScoresPlan(s, dir, Seq(PhraseTerms._1, PhraseTerms._2)))

  /** ir12_training_pairs — retriever TRAINING-DATA generation with BM25
    * hard negatives (the DPR recipe, Karpukhin et al. 2020 §3.2): for the
    * phrase query, positives are documents where the phrase actually
    * occurs (ir11's adjacency evidence), hard negatives are the
    * highest-BM25 documents that contain the terms WITHOUT the phrase —
    * lexically confusable, semantically wrong, exactly the pairs a dual
    * encoder needs to learn ordering from. Top-10 of each, ranked by
    * (bm25 desc, doc_id) through the k-bounded native TopK aggregate (no
    * un-partitioned window; the label-keyed groupBy carries ≤ 2k rows out
    * of the aggregate). Scoring rides the pinned [[phraseBm25]] core and
    * labels ride the pinned positional postings — one tokenization each,
    * session-wide. */
  def ir12TrainingPairs(s: SparkSession, dir: String): DataFrame = {
    val scored = phraseBm25(s, dir)
    val hits = ir11PhraseQuery(s, dir).select(col("doc_id"), lit(1).as("__m"))
    val labeled = scored.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bm25_e6"),
        when(col("__m").isNotNull, 1).otherwise(0).as("label"))
      // negatives must be HARD: zero-score docs hold neither term and
      // teach nothing
      .filter(col("label") === 1 || col("bm25_e6") > 0)
    graft.operators.TopK.smallestPerGroup(labeled, Seq("label"), 10,
        -col("bm25_e6"), col("doc_id"), "negScore", "doc_id")
      .select(col("label"), col("rank"), col("doc_id"),
        (-col("negScore")).as("bm25_e6"))
      .orderBy(desc("label"), col("rank"))
  }

  private def posFp(dir: String): String =
    // v2: base segment behind the id watermark + a stats artifact — the
    // positions family joins the incremental lifecycle (r16); the v1
    // full-corpus homes are swept on the first v2 build.
    // v3: adds the `docs` census artifact (distinct base doc ids) so the
    // e2e8 audit reads a doc-grain frame instead of distinct-ing the
    // (doc, word) store — metadata-sized at any corpus size
    "v3_" + graft.operators.PersistedIndex.tableFingerprint(dir, "documents")

  /** Build-if-absent the PERSISTED positional index: per-(doc, word)
    * sorted position lists for documents at-or-below the id watermark,
    * hive-partitioned by the [[PostingsBuckets]]-way word-hash bucket
    * (the ir6b layout lifted to the positions stream — Lucene persists
    * exactly this, term-partitioned position lists), plus the stats row
    * carrying the watermark (the ir10/dd18 convention — the positional
    * family is the SIXTH persisted family to join the incremental
    * lifecycle). */
  private[queries] def ensurePosIndex(s: SparkSession, dir: String): java.nio.file.Path =
    graft.operators.PersistedIndex.ensure("positions_index", dir, posFp(dir))(
      buildPosIndex(s, dir, _))

  private def buildPosIndex(s: SparkSession, dir: String, tmp: java.nio.file.Path): Unit = {
    import graft.operators.PersistedIndex
    val split = PersistedIndex.idWatermark(t(s, dir, "documents"), "doc_id")
    val nBk = bucketCountFor(
      t(s, dir, "documents").filter(col("doc_id") <= split).select("doc_id").count())
    PersistedIndex.writeArtifacts(
      () => graft.sources.Layout.writePartitioned(
        positionsOf(t(s, dir, "documents").filter(col("doc_id") <= split)
            .select("doc_id", "text"))
          .withColumn("bucket", pmod(detHash(col("word")), lit(nBk))),
        tmp.resolve("positions").toString, "bucket", "word"),
      () => t(s, dir, "documents").filter(col("doc_id") <= split).select("doc_id")
        .write.mode("overwrite").parquet(tmp.resolve("docs").toString),
      () => PersistedIndex.splitStats(s, split)
        .withColumn("n_buckets", lit(nBk))
        .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
  }

  /** Per-(doc, word) sorted 1-based position lists of a (doc_id, text)
    * frame — the build/serve-time positional derivation. */
  private def positionsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"), col("word"))
      .groupBy("doc_id", "word")
      .agg(sort_array(collect_list("pos")).as("positions"))

  /** The positions family's change-set merge: the post-change
    * (doc_id, word, positions) table — `base` lists (bucket-pruned by the
    * serve, whole by the fold) minus the `dead` docs, plus `freshPos`, the
    * fresh rows' [[positionsOf]] lists. Document segments are disjoint, so
    * the union IS the post-change positional table. */
  private def mergePositions(base: DataFrame, dead: DataFrame,
      freshPos: DataFrame): DataFrame =
    base.select("doc_id", "word", "positions")
      .join(dead, Seq("doc_id"), "left_anti")
      .unionByName(freshPos)

  /** The merged positional postings for `terms` that every positional
    * consumer (ir11b/ir13/ir13b/ir17/ir18) reads: [[mergePositions]] over
    * the bucket-pruned base lists, with the fresh rows — the ONLY text
    * re-positioned at serve time — restricted to `terms` (the filter sits
    * below the per-(doc, word) grouping). The fold writes the frames this
    * serve merges. */
  private def posServe(s: SparkSession, home: java.nio.file.Path,
      dead: DataFrame, fresh: DataFrame, terms: Seq[String]): DataFrame =
    // the per-term split downstream (p1/p2/p3 legs) re-reads the merged
    // frame once per term — materialize the fresh re-positioning once
    mergePositions(prunedArtifact(s, home, "positions", terms), dead,
      graft.operators.CdcRules.pinDerived(s, fresh,
        positionsOf(fresh).where(col("word").isInCollection(terms))))

  /** The two-term adjacency projection over a merged positional frame —
    * ir11's match arithmetic, shared by ir11b and the ir18 CDC faces. */
  private def phraseMatch(pt: DataFrame, w1: String, w2: String): DataFrame = {
    val p1 = pt.filter(col("word") === w1).select(col("doc_id"), col("positions").as("pos1"))
    val p2 = pt.filter(col("word") === w2).select(col("doc_id"), col("positions").as("pos2"))
    p1.join(p2, Seq("doc_id"))
      .select(col("doc_id"),
        size(array_intersect(transform(col("pos1"), p => p + 1), col("pos2")))
          .cast(LongType).as("n_matches"),
        array_min(filter(col("pos1"),
          p => array_contains(col("pos2"), p + 1))).as("first_pos"))
      .filter(col("n_matches") > 0)
      .orderBy("doc_id")
  }

  /** ir11b_persisted_positions — phrase search served from the PERSISTED
    * positional index: base position lists come bucket-pruned from the
    * snapshot (driver-computed bucket ids land as a partition-pruning IN
    * filter, the ir6b trick), only the append segment is tokenized at
    * query time (pushed `doc_id > split` range — the ir10 merge applied
    * to positions), results bit-equal to ir11 (segment merge is
    * invisible to the answer, so the oracle is shared). */
  def ir11bPersistedPositions(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, PositionsMaintenance, Appends)

  /** ir18_tombstone_phrase — tombstone/UPDATE-aware PHRASE search: the
    * [[graft.operators.CdcRules]] semantics on the POSITIONAL family (the
    * sixth persisted family to get the full CDC lifecycle): deleted docs'
    * position lists leave via the id anti-join, updated docs re-position
    * under their re-crawled (reversed) text — the phrase "w1 w2" stops
    * matching and "w2 w1" starts, exactly what the oracle replays —
    * appends are ir11b's delta. When the expunged generation for this
    * feed watermark exists ([[IndexMaintenance.compactCdc]]), the serve
    * reads persisted lists only (empty frames, the ir14b contract). */
  def ir18TombstonePhrase(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, PositionsMaintenance, Tombstones)

  /** The positions family's fold: it writes [[mergePositions]] over the
    * whole base lists — the frame [[posServe]] merges, for ALL words —
    * plus the `docs` census (dead docs out, fresh docs in) and the
    * watermark, as a new generation. */
  private[graft] def foldPosArtifacts(s: SparkSession, tmp: java.nio.file.Path,
      cur: java.nio.file.Path, dead: DataFrame, fresh: DataFrame, split: Long): Unit = {
    import graft.operators.PersistedIndex
    val nBk = readBuckets(s, cur)
    PersistedIndex.writeArtifacts(
      () => graft.sources.Layout.writePartitioned(
        mergePositions(PersistedIndex.artifactFrame(s, cur, "positions"), dead,
            positionsOf(fresh))
          .withColumn("bucket", pmod(detHash(col("word")), lit(nBk))),
        tmp.resolve("positions").toString, "bucket", "word"),
      () => graft.sources.Layout.readParquet(s, cur.resolve("docs").toString)
        .join(dead, Seq("doc_id"), "left_anti")
        .unionByName(fresh.select("doc_id").distinct())
        .write.mode("overwrite").parquet(tmp.resolve("docs").toString),
      () => PersistedIndex.splitStats(s, split)
        .withColumn("n_buckets", lit(nBk))
        .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
  }

  /** The positional family's hooks into the streaming maintenance loop
    * ([[graft.streaming.IndexMaintenance]]): probe = the ir19 feed face's
    * phrase query, fold = [[foldPosArtifacts]]. */
  private[graft] object PositionsMaintenance extends IndexMaintenance.DocFamily {
    val name = "positions"
    val kind = "positions_index"
    def fingerprint(dir: String): String = posFp(dir)
    def ensureBase(s: SparkSession, dir: String): java.nio.file.Path =
      ensurePosIndex(s, dir)
    def baseCount(s: SparkSession, base: java.nio.file.Path): Long =
      graft.operators.PersistedIndex.artifactRows(s, base, "docs")
    def foldInto(s: SparkSession, tmp: java.nio.file.Path, base: java.nio.file.Path,
        dead: DataFrame, fresh: DataFrame, split: Long): Unit =
      foldPosArtifacts(s, tmp, base, dead, fresh, split)
    def serve(s: SparkSession, dir: String, base: java.nio.file.Path,
        dead: DataFrame, fresh: DataFrame): DataFrame = {
      val (w1, w2) = PhraseTerms
      phraseMatch(posServe(s, base, dead, fresh, Seq(w1, w2)), w1, w2)
    }
  }

  /** ir18b_expunged_phrase — fold, then serve phrase matches straight
    * from the expunged position lists (shares ir18's oracle). */
  def ir18bExpungedPhrase(s: SparkSession, dir: String): DataFrame = {
    IndexMaintenance.compactCdc(s, dir, PositionsMaintenance)
    ir18TombstonePhrase(s, dir)
  }

  /** ir19_feed_phrase — the feed-table face of ir18 (the ir15 contract on
    * the positional family, completing feed-as-data across all SIX
    * persisted families): [[phraseMatch]] ∘ [[posServe]] over the
    * [[graft.operators.CdcRules.feedFrames]] split of the cdcStream
    * table; reversedTokens 'u' payloads are exactly ir18's update
    * transform, so ir19 ≡ ir18 and the oracle is shared. */
  def ir19FeedPhrase(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, PositionsMaintenance, Feed)

  /** ir11's SQL replayed over the POST-CHANGE corpus (the ir14/dd20
    * oracle convention — updates reversed, so the phrase flips sides). */
  val ir18TombstonePhraseSql: String = {
    val (w1, w2) = PhraseTerms
    s"""WITH ${graft.operators.CdcRules.sqlCorpusCtes("ir18corpus",
          graft.operators.CdcRules.sqlReversedTokens("d.text"))},
       |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM ir18corpus),
       |m AS (SELECT doc_id,
       |    list_filter(range(1, len(toks)), i -> toks[i] = '$w1' AND toks[i + 1] = '$w2') AS hits
       |  FROM tok)
       |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
       |  CAST(hits[1] AS BIGINT) AS first_pos
       |FROM m WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin
  }

  /** ir13's proximity query: three terms, ordered, within a window of
    * (k−1)+slop tokens — present at every SF; slop 2 admits docs the
    * exact-adjacency face (ir11) rejects. */
  private[queries] val ProximityTerms: (String, String, String) = ("table", "scan", "data")
  private[queries] val ProximitySlop: Int = 2

  /** ir13_proximity_query — ORDERED PROXIMITY search (Lucene's
    * `PhraseQuery~slop` shape generalized to ≥3 terms) from the PERSISTED
    * positional index: a doc matches where some position a of term 1 is
    * followed by a position b>a of term 2 and c>b of term 3 with total
    * span c−a ≤ (k−1)+slop. At slop 0 this degenerates to exact k-term
    * adjacency; ir11 asserts only two-term adjacency, so this is the face
    * real query languages actually expose ("table scan data"~2). The
    * probe touches ONLY the three terms' position lists (bucket partition
    * pruning + term filter, the ir11b path — zero corpus scan, zero
    * tokenization at query time); the window test is a nested
    * higher-order predicate over per-doc position arrays, bounded by doc
    * length, evaluated inside codegen. Output: matching docs with the
    * count of valid window STARTS and the first start position —
    * integer-exact on both engines, so the DuckDB twin replays the same
    * nested lambda arithmetic. */
  def ir13ProximityQuery(s: SparkSession, dir: String): DataFrame = {
    val (w1, w2, w3) = ProximityTerms
    ir13Internals(s, dir, w1, w2, w3, ProximitySlop)
  }

  private[queries] def ir13Internals(s: SparkSession, dir: String,
      w1: String, w2: String, w3: String, slop: Int): DataFrame = {
    val terms = Seq(w1, w2, w3)
    val (home, dead, delta) = IndexMaintenance.serving(s, dir, PositionsMaintenance, Appends)
    val pt = posServe(s, home, dead, delta, terms)
    def posOf(w: String, as: String) =
      pt.filter(col("word") === w).select(col("doc_id"), col("positions").as(as))
    val win = lit(slop + 2L)
    // a valid window START: term-2 after it, term-3 after that, span ≤ win
    val isStart = (a: Column) =>
      exists(col("pos2"), b => b > a &&
        exists(col("pos3"), c => c > b && c - a <= win))
    posOf(w1, "pos1").join(posOf(w2, "pos2"), Seq("doc_id"))
      .join(posOf(w3, "pos3"), Seq("doc_id"))
      .select(col("doc_id"), filter(col("pos1"), isStart).as("hits"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"),
        size(col("hits")).cast(LongType).as("n_matches"),
        array_min(col("hits")).as("first_pos"))
      .orderBy("doc_id")
  }

  /** ir13b_unordered_near — the UNORDERED window variant (Lucene's
    * `SpanNearQuery(inOrder=false)` to ir13's ordered mode): a doc matches
    * where some triple (a,b,c) of the three terms' positions spans
    * greatest−least ≤ (k−1)+slop in ANY order. Output convention mirrors
    * ir13's term-1 anchoring: n_matches counts term-1 positions that
    * participate in a valid window, first_pos is the smallest such.
    * Same bucket-pruned persisted-positions probe, zero corpus scan;
    * ordered matches are a strict subset (an ordered chain's span is its
    * c−a), so ir13b ⊇ ir13 docwise — fixture-pinned. */
  def ir13bUnorderedNear(s: SparkSession, dir: String): DataFrame = {
    val (w1, w2, w3) = ProximityTerms
    ir13bInternals(s, dir, w1, w2, w3, ProximitySlop)
  }

  private[queries] def ir13bInternals(s: SparkSession, dir: String,
      w1: String, w2: String, w3: String, slop: Int): DataFrame = {
    val terms = Seq(w1, w2, w3)
    val (home, dead, delta) = IndexMaintenance.serving(s, dir, PositionsMaintenance, Appends)
    val pt = posServe(s, home, dead, delta, terms)
    def posOf(w: String, as: String) =
      pt.filter(col("word") === w).select(col("doc_id"), col("positions").as(as))
    val win = lit(slop + 2L)
    val inWindow = (a: Column) =>
      exists(col("pos2"), b => exists(col("pos3"), c =>
        greatest(a, b, c) - least(a, b, c) <= win))
    posOf(w1, "pos1").join(posOf(w2, "pos2"), Seq("doc_id"))
      .join(posOf(w3, "pos3"), Seq("doc_id"))
      .select(col("doc_id"), filter(col("pos1"), inWindow).as("hits"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"),
        size(col("hits")).cast(LongType).as("n_matches"),
        array_min(col("hits")).as("first_pos"))
      .orderBy("doc_id")
  }

  /** The 12-entry phrase/slop query table ir21 serves in one plan —
    * two-term ordered windows over the retrieval vocabulary; slop 0 is
    * ir11's exact adjacency, slop ≥ 1 ir13's ordered proximity. */
  private[queries] val PhraseBatch: Seq[(Long, String, String, Int)] = Seq(
    (0L, "table", "scan", 0),
    (1L, "hash", "join", 0),
    (2L, "sort", "merge", 1),
    (3L, "window", "agg", 2),
    (4L, "stream", "batch", 2),
    (5L, "column", "row", 1),
    (6L, "filter", "scan", 2),
    (7L, "data", "table", 1),
    (8L, "group", "key", 2),
    (9L, "query", "fast", 2),
    (10L, "scan", "data", 0),
    (11L, "merge", "join", 0))

  /** ir21_phrase_batch — BATCHED serving for the POSITIONAL family:
    * [[batchServe]]'s contract on [[posServe]] — the
    * whole (phrase, slop) query table rides ONE bucket-pruned positional
    * read for the UNION of all terms (the bucket IN list covers every
    * query at once, so the artifact read amortizes across the batch the
    * way ir16's postings read does), the query table joins in as a
    * broadcast, each query's ordered-window test is evaluated per
    * (query, doc) inside codegen over the position arrays, and the
    * per-query top-k is the k-bounded native TopK — no un-partitioned
    * window, no per-query plan. After an append fold
    * ([[IndexMaintenance.foldAppends]]) the delta leg is a true empty
    * LocalRelation and the whole batch serves persisted-only. */
  def ir21PhraseBatch(s: SparkSession, dir: String): DataFrame =
    ir21Internals(s, dir, PhraseBatch, BatchTopK)

  /** Parameterized so the spec can assert the batching property: each
    * query's slice of a batched run equals the solo window test.
    *
    * The window test runs once per DISTINCT (w1, w2, slop) triple, not
    * once per query: deterministic batch tables repeat triples
    * (PhraseBatch100's modular construction has period 18, so its 100
    * queries hold only 18 distinct tests), and the per-query spelling
    * shuffled each repeated triple's position ARRAYS once per duplicate —
    * the amplification lands exactly where a Zipf corpus makes the arrays
    * long (skew sweep: ir25 read 1.66× its uniform twin before this, the
    * array join being the entire delta). query_ids rejoin AFTER the
    * heavy join/filter as a broadcast over ids-only rows; each query's
    * TopK input is row-identical to the per-query spelling, so results
    * (and oracle hashes) are unchanged. */
  private[queries] def ir21Internals(s: SparkSession, dir: String,
      batch: Seq[(Long, String, String, Int)], k: Int): DataFrame = {
    import s.implicits._
    val terms = batch.flatMap(b => Seq(b._2, b._3)).distinct.sorted
    val (home, dead, delta) = IndexMaintenance.serving(s, dir, PositionsMaintenance, Appends)
    val pt = posServe(s, home, dead, delta, terms)
    val triples = batch.map(b => (b._2, b._3, b._4)).distinct
    val tripleId = triples.zipWithIndex
      .map { case (t, i) => t -> i.toLong }.toMap
    val qt = broadcast(triples.zipWithIndex
      .map { case ((w1, w2, sl), i) => (i.toLong, w1, w2, sl) }
      .toDF("pair_id", "w1", "w2", "slop"))
    val qmap = broadcast(batch
      .map { case (q, w1, w2, sl) => (q, tripleId((w1, w2, sl))) }
      .toDF("query_id", "pair_id"))
    val p1 = qt.join(pt, col("word") === col("w1"))
      .select(col("pair_id"), col("doc_id"), col("positions").as("pos1"), col("slop"))
    val p2 = qt.select("pair_id", "w2").join(pt, col("word") === col("w2"))
      .select(col("pair_id"), col("doc_id"), col("positions").as("pos2"))
    // a valid window START a: some position b of the second term with
    // a < b ≤ a + slop + 1 (slop 0 ⇒ b = a+1, exact adjacency)
    val win = col("slop").cast(LongType) + lit(1L)
    val scored = p1.join(p2, Seq("pair_id", "doc_id"))
      .select(col("pair_id"), col("doc_id"),
        filter(col("pos1"), a => exists(col("pos2"),
          b => b > a && b - a <= win)).as("hits"),
        col("slop"))
      .filter(size(col("hits")) > 0)
      .select(col("pair_id"), col("doc_id"),
        size(col("hits")).cast(LongType).as("n_matches"))
      .join(qmap, Seq("pair_id"))
    graft.operators.TopK.smallestPerGroup(scored, Seq("query_id"), k,
        -col("n_matches"), col("doc_id"), keyName = "negm", idName = "doc_id")
      .select(col("query_id"), col("rank"), col("doc_id"),
        (-col("negm")).as("n_matches"))
      .orderBy("query_id", "rank")
  }

  private def phraseBatchSqlOver(batch: Seq[(Long, String, String, Int)]): String = {
    val qtValues = batch
      .map { case (q, w1, w2, sl) => s"($q, '$w1', '$w2', $sl)" }.mkString(", ")
    s"""WITH qt(query_id, w1, w2, slop) AS (VALUES $qtValues),
       |tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |m AS (SELECT q.query_id, t.doc_id,
       |    list_filter(range(1, len(tk) + 1), a -> tk[a] = q.w1 AND
       |      len(list_filter(range(1, len(tk) + 1),
       |        b -> tk[b] = q.w2 AND b > a AND b - a <= q.slop + 1)) > 0) AS hits
       |  FROM tok t CROSS JOIN qt q),
       |hit AS (SELECT query_id, doc_id, CAST(len(hits) AS BIGINT) AS n_matches
       |  FROM m WHERE len(hits) > 0),
       |ranked AS (SELECT query_id, doc_id, n_matches,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_matches DESC, doc_id) AS rank
       |  FROM hit)
       |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id, n_matches
       |FROM ranked WHERE rank <= $BatchTopK ORDER BY query_id, rank""".stripMargin
  }

  val ir21PhraseBatchSql: String = phraseBatchSqlOver(PhraseBatch)

  /** The 100-entry phrase/slop table for the batch-axis pricing face
    * (VERDICT r17 #6 — ir24's 100-query axis on the POSITIONAL family):
    * deterministic index arithmetic over the phrase vocabulary, so Spark
    * and the oracle replay the identical table. */
  private[queries] lazy val PhraseBatch100: Seq[(Long, String, String, Int)] = {
    val vocab = PhraseBatch.flatMap(b => Seq(b._2, b._3)).distinct.sorted
    (0L until 100L).map { i =>
      val a = ((i * 7 + 2) % vocab.length).toInt
      val b0 = ((i * 11 + 3) % vocab.length).toInt
      val b = if (b0 == a) (b0 + 1) % vocab.length else b0
      (i, vocab(a), vocab(b), (i % 3L).toInt)
    }
  }

  /** ir25_phrase_batch100 — the batch axis extended to 100 phrase/slop
    * queries: the SAME one-plan kernel as ir21 (one bucket-pruned
    * positional read for the union of all 100 queries' terms, broadcast
    * query table, per-(query, doc) window test in codegen, k-bounded
    * TopK), ~8× the query table — the positional twin of ir24's
    * amortization row in BASELINE.md. */
  def ir25PhraseBatch100(s: SparkSession, dir: String): DataFrame =
    ir21Internals(s, dir, PhraseBatch100, BatchTopK)

  lazy val ir25PhraseBatch100Sql: String = phraseBatchSqlOver(PhraseBatch100)

  val ir13bUnorderedNearSql: String = {
    val (w1, w2, w3) = ProximityTerms
    val win = ProximitySlop + 2
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |p AS (SELECT doc_id,
       |    list_filter(range(1, len(tk) + 1), i -> tk[i] = '$w1') AS p1,
       |    list_filter(range(1, len(tk) + 1), i -> tk[i] = '$w2') AS p2,
       |    list_filter(range(1, len(tk) + 1), i -> tk[i] = '$w3') AS p3
       |  FROM tok),
       |m AS (SELECT doc_id,
       |    list_filter(p1, a -> len(list_filter(p2, b -> len(list_filter(p3, c ->
       |      greatest(a, b, c) - least(a, b, c) <= $win)) > 0)) > 0) AS hits
       |  FROM p)
       |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
       |  CAST(hits[1] AS BIGINT) AS first_pos
       |FROM m WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin
  }

  private[queries] val SnippetK = 10

  /** ir17_snippets — KWIC (keyword-in-context) snippet generation over the
    * PERSISTED positions (VERDICT r15 #7): the serving query every search
    * product ships, and the positional index's third consumer after
    * phrase (ir11b) and proximity (ir13). Pipeline: the two terms'
    * position lists come bucket-pruned from the persisted index (zero
    * corpus scan, the ir11b path), phrase hits rank by occurrence count,
    * the top-[[SnippetK]] doc ids are collected driver-side (k-bounded,
    * the ir7 class) and land as a PUSHED `doc_id IN (…)` filter on the
    * ONE text fetch — so text bytes move for ≤ k documents no matter the
    * corpus size (plan-asserted in RetrievalSpec) — and each hit emits
    * the ±5-token window around its first match. */
  def ir17Snippets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w1, w2) = PhraseTerms
    val top = ir11bPersistedPositions(s, dir)
      .orderBy(desc("n_matches"), col("doc_id"))
      .limit(SnippetK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val topDf = broadcast(top.toSeq.toDF("doc_id", "n_matches", "first_pos"))
    val texts = t(s, dir, "documents")
      .where(col("doc_id").isin(top.map(t => java.lang.Long.valueOf(t._1)).toSeq: _*))
      .select("doc_id", "text")
    val lo = greatest(col("first_pos") - 5L, lit(1L))
    val len = col("first_pos") + lit(6L) - lo + lit(1L)
    texts.join(topDf, Seq("doc_id"))
      .select(col("doc_id"), col("n_matches"), col("first_pos"),
        concat_ws(" ", slice(tokens(col("text")), lo.cast("int"), len.cast("int")))
          .as("snippet"))
      .orderBy(desc("n_matches"), col("doc_id"))
  }

  val ir17SnippetsSql: String = {
    val (w1, w2) = PhraseTerms
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |m AS (SELECT doc_id, toks,
       |    list_filter(range(1, len(toks)), i -> toks[i] = '$w1' AND toks[i + 1] = '$w2') AS hits
       |  FROM tok),
       |hit AS (SELECT doc_id, toks, CAST(len(hits) AS BIGINT) AS n_matches,
       |    CAST(hits[1] AS BIGINT) AS first_pos
       |  FROM m WHERE len(hits) > 0),
       |top AS (SELECT * FROM hit ORDER BY n_matches DESC, doc_id LIMIT $SnippetK)
       |SELECT doc_id, n_matches, first_pos,
       |  array_to_string(toks[GREATEST(first_pos - 5, 1):(first_pos + 6)], ' ') AS snippet
       |FROM top ORDER BY n_matches DESC, doc_id""".stripMargin
  }

  val ir13ProximityQuerySql: String = {
    val (w1, w2, w3) = ProximityTerms
    val win = ProximitySlop + 2
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |p AS (SELECT doc_id,
       |    list_filter(range(1, len(tk) + 1), i -> tk[i] = '$w1') AS p1,
       |    list_filter(range(1, len(tk) + 1), i -> tk[i] = '$w2') AS p2,
       |    list_filter(range(1, len(tk) + 1), i -> tk[i] = '$w3') AS p3
       |  FROM tok),
       |m AS (SELECT doc_id,
       |    list_filter(p1, a -> len(list_filter(p2, b -> b > a AND
       |      len(list_filter(p3, c -> c > b AND c - a <= $win)) > 0)) > 0) AS hits
       |  FROM p)
       |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
       |  CAST(hits[1] AS BIGINT) AS first_pos
       |FROM m WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin
  }

  val ir12TrainingPairsSql: String = {
    val qterms = Seq(PhraseTerms._1, PhraseTerms._2)
    val dfCols = qterms.map(q =>
      s"CAST(SUM(CASE WHEN list_contains(tk, '$q') THEN 1 ELSE 0 END) AS BIGINT) AS df_$q").mkString(",\n  ")
    val avgdl = "(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    def termScore(q: String) = {
      val tf = s"CAST(len(list_filter(tk, x -> x = '$q')) AS DOUBLE)"
      val df = s"CAST(df_$q AS DOUBLE)"
      val idf = s"ln((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5) + 1.0)"
      s"$idf * ($tf * (1.2 + 1.0)) / ($tf + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl)))"
    }
    val score = qterms.map(termScore).mkString(" + ")
    val (w1, w2) = PhraseTerms
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |  len(string_split(text, ' ')) AS dl FROM documents),
       |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl,
       |  $dfCols
       |  FROM d),
       |sc AS (SELECT doc_id, CAST(ROUND(($score) * 1e6) AS BIGINT) AS bm25_e6,
       |  len(list_filter(range(1, len(tk)), i -> tk[i] = '$w1' AND tk[i + 1] = '$w2')) > 0 AS m
       |  FROM d CROSS JOIN st),
       |pos AS (SELECT 1 AS label, ROW_NUMBER() OVER (ORDER BY bm25_e6 DESC, doc_id) AS rk,
       |    doc_id, bm25_e6 FROM sc WHERE m),
       |neg AS (SELECT 0 AS label, ROW_NUMBER() OVER (ORDER BY bm25_e6 DESC, doc_id) AS rk,
       |    doc_id, bm25_e6 FROM sc WHERE NOT m AND bm25_e6 > 0)
       |SELECT label, CAST(rk AS INT) AS rank, doc_id, bm25_e6 FROM (
       |  SELECT * FROM pos WHERE rk <= 10
       |  UNION ALL SELECT * FROM neg WHERE rk <= 10)
       |ORDER BY label DESC, rank""".stripMargin
  }

  /** a35_pass_at_k — the pass@k unbiased estimator (Chen et al. 2021,
    * Codex §2.1): with n samples per task of which c pass, pass@k =
    * 1 − C(n−c, k)/C(n, k), computed in the numerically-stable product
    * form 1 − Π_{i<k} (n−c−i)/(n−i) — THE metric for code-generation
    * evals, and the one generation-eval the a22–a34 battery lacked. Tasks
    * are deterministic 10-doc buckets (doc_id div 10 — the "10 samples per
    * problem" protocol), a sample "passes" if it contains the token
    * `join` (the deterministic unit-test proxy). n−c < k makes some
    * factor non-positive — the estimator is exactly 1 there (both engines
    * take the same branch). The 5-factor product evaluates in one fixed
    * left-to-right IEEE tree on both engines, then e6-rounds (the Q
    * convention). One scan, one task-keyed shuffle of counts. */
  def a35PassAtK(s: SparkSession, dir: String): DataFrame = {
    val hit = array_contains(tokens(col("text")), "join")
    val g = t(s, dir, "documents")
      .select(expr("doc_id div 10").as("task_id"), hit.as("hit"))
      .groupBy("task_id")
      .agg(count(lit(1)).as("n"), sum(when(col("hit"), 1L).otherwise(0L)).as("c"))
    val (nd, cd) = (col("n").cast(DoubleType), col("c").cast(DoubleType))
    val prod5 = (0 until 5)
      .map(i => (nd - cd - i) / (nd - i))
      .reduceLeft(_ * _)
    g.select(col("task_id"), col("n"), col("c"),
        round(lit(1e6) * cd / nd).cast(LongType).as("pass1_e6"),
        when(col("n") - col("c") < 5, lit(1000000L))
          .otherwise(round(lit(1e6) * (lit(1.0) - prod5)).cast(LongType)).as("pass5_e6"))
      .orderBy("task_id")
  }

  val a35PassAtKSql: String = {
    val prod5 = (0 until 5)
      .map(i => s"((CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - $i) / (CAST(n AS DOUBLE) - $i))")
      .mkString(" * ")
    s"""WITH g AS (
       |  SELECT doc_id // 10 AS task_id, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN list_contains(string_split(text, ' '), 'join')
       |      THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM documents GROUP BY doc_id // 10)
       |SELECT task_id, n, c,
       |  CAST(ROUND(1e6 * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS pass1_e6,
       |  CASE WHEN n - c < 5 THEN 1000000
       |    ELSE CAST(ROUND(1e6 * (1.0 - $prod5)) AS BIGINT) END AS pass5_e6
       |FROM g ORDER BY task_id""".stripMargin
  }

  /** a36's comparison universe: [[BtItems]] "systems" matched up
    * deterministically from the a22 eval-pair frame, [[BtIters]]
    * minorization steps. */
  private[queries] val BtItems = 8
  private[queries] val BtIters = 20

  /** Core of a36: the Bradley–Terry MM iteration (Hunter 2004, "MM
    * algorithms for generalized Bradley–Terry models", Ann. Statist. §1:
    * p_i ← W_i / Σ_{j≠i} n_ij/(p_i+p_j), renormalized each step) run in
    * e6-scaled INTEGER arithmetic — the kg2 convention that makes both
    * engines replay bit-identical trajectories (floor division at every
    * step, no doubles anywhere). Inputs: symmetric games n_ij and total
    * wins W_i over an item universe that is STRUCTURALLY bounded
    * ([[BtItems]] systems — a constant, not corpus-proportional), so the
    * M×M iteration is a driver-side loop over a ≤M²-row bounded collect
    * (the kg3/communitiesCore class) while the heavy outcome aggregation
    * stays distributed. Guards: an item whose denominator floors to 0
    * (all opponents vastly stronger at this scale) keeps its strength;
    * a never-winning item converges to the 0 boundary. */
  private[queries] def bradleyTerryCore(items: Seq[Int],
      games: Map[(Int, Int), Long], wins: Map[Int, Long], iters: Int): Map[Int, Long] = {
    val m = items.length.toLong // ACTIVE items only — the oracle normalizes
    var p = items.map(_ -> 1000000L).toMap //  by COUNT(bp0), not the constant
    var t = 0
    while (t < iters) {
      val praw = items.map { i =>
        var denom = 0L
        items.foreach { j =>
          val n = games.getOrElse((i, j), 0L)
          if (n > 0L) denom += n * 1000000L / (p(i) + p(j))
        }
        i -> (if (denom == 0L) p(i) else wins.getOrElse(i, 0L) * 1000000L / denom)
      }.toMap
      val psum = praw.values.sum
      p = if (psum == 0L) praw
          else praw.map { case (i, x) => i -> x * m * 1000000L / psum }
      t += 1
    }
    p
  }

  /** a36_bradley_terry — pairwise-preference STRENGTH estimation (the
    * Chatbot-Arena/RLHF ranking model): each a22 eval pair is a "game"
    * between two of [[BtItems]] systems (i = pair_id % M, j =
    * (pair_id div M) % M, self-matches dropped), decided by a
    * deterministic judge stand-in — the side with the longer output wins
    * (candidate on ties), making the fitted strengths a VERBOSITY-BIAS
    * audit of length-preferring judges. The MM iteration
    * ([[bradleyTerryCore]]) is exact integer replay on both engines;
    * output strengths are normalized to Σ = M·1e6. Scale shape: one
    * corpus pass → (pair_id, side, dl) → a ≤M²-key aggregate; the
    * iteration itself is O(M²·iters) driver arithmetic, independent of
    * corpus size. */
  def a36BradleyTerry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = BtItems
    val pairs = t(s, dir, "documents")
      .select(expr("doc_id div 2").as("pair_id"), (col("doc_id") % 2).as("side"),
        size(tokens(col("text"))).cast(LongType).as("dl"))
      .groupBy("pair_id")
      .agg(max(when(col("side") === 0, col("dl"))).as("dl_c"),
        max(when(col("side") === 1, col("dl"))).as("dl_r"))
      .filter(col("dl_c").isNotNull && col("dl_r").isNotNull)
      .select((col("pair_id") % m).cast(IntegerType).as("i"),
        expr(s"cast(pair_id div $m % $m as int)").as("j"),
        when(col("dl_c") >= col("dl_r"), 1L).otherwise(0L).as("wi"))
      .filter(col("i") =!= col("j"))
    val g0 = pairs.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum("wi").as("w"))
      .collect() // ≤ M·(M−1) rows by construction — bounded, not corpus-sized
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val games = scala.collection.mutable.Map.empty[(Int, Int), Long].withDefaultValue(0L)
    val wins = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    g0.foreach { case (i, j, n, w) =>
      games((i, j)) += n; games((j, i)) += n
      wins(i) += w; wins(j) += n - w
    }
    val active = (0 until m).filter(i => games.keys.exists(_._1 == i))
    val p = bradleyTerryCore(active, games.toMap, wins.toMap, BtIters)
    active
      .map { i =>
        val nGames = (0 until m).map(j => games((i, j))).sum
        (i, p(i), nGames, wins(i))
      }
      .toDF("item", "strength_e6", "n_games", "n_wins")
      .orderBy(desc("strength_e6"), col("item"))
  }

  val a36BradleyTerrySql: String = {
    val m = BtItems
    val iters = (1 to BtIters).map { t =>
      s"""braw$t AS MATERIALIZED (
         |  SELECT g.i,
         |    CASE WHEN CAST(SUM(g.n * 1000000 // (pi.p + pj.p)) AS BIGINT) = 0 THEN pi.p
         |      ELSE w.wins * 1000000 // CAST(SUM(g.n * 1000000 // (pi.p + pj.p)) AS BIGINT)
         |    END AS praw
         |  FROM bg g JOIN bp${t - 1} pi ON g.i = pi.i JOIN bp${t - 1} pj ON g.j = pj.i
         |    JOIN bw w ON w.i = g.i
         |  GROUP BY g.i, w.wins, pi.p),
         |bp$t AS MATERIALIZED (
         |  SELECT i, CASE
         |    WHEN (SELECT CAST(SUM(praw) AS BIGINT) FROM braw$t) = 0 THEN praw
         |    ELSE praw * (SELECT COUNT(*) FROM bp0) * 1000000
         |      // (SELECT CAST(SUM(praw) AS BIGINT) FROM braw$t)
         |    END AS p
         |  FROM braw$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH bd AS (
       |  SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side,
       |    len(string_split(text, ' ')) AS dl FROM documents),
       |bpr AS (
       |  SELECT pair_id, MAX(CASE WHEN side = 0 THEN dl END) AS dl_c,
       |    MAX(CASE WHEN side = 1 THEN dl END) AS dl_r
       |  FROM bd GROUP BY pair_id),
       |bcmp AS (
       |  SELECT CAST(pair_id % $m AS INT) AS i, CAST(pair_id // $m % $m AS INT) AS j,
       |    CASE WHEN dl_c >= dl_r THEN 1 ELSE 0 END AS wi
       |  FROM bpr
       |  WHERE dl_c IS NOT NULL AND dl_r IS NOT NULL AND pair_id % $m != pair_id // $m % $m),
       |bg0 AS (
       |  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(wi) AS BIGINT) AS w
       |  FROM bcmp GROUP BY i, j),
       |bg AS MATERIALIZED (
       |  SELECT i, j, CAST(SUM(n) AS BIGINT) AS n FROM (
       |    SELECT i, j, n FROM bg0 UNION ALL SELECT j AS i, i AS j, n FROM bg0)
       |  GROUP BY i, j),
       |bw AS MATERIALIZED (
       |  SELECT i, CAST(SUM(w) AS BIGINT) AS wins FROM (
       |    SELECT i, w FROM bg0 UNION ALL SELECT j AS i, n - w AS w FROM bg0)
       |  GROUP BY i),
       |bp0 AS MATERIALIZED (SELECT DISTINCT i, 1000000 AS p FROM bg),
       |$iters
       |SELECT g.i AS item, p.p AS strength_e6,
       |  CAST(SUM(g.n) AS BIGINT) AS n_games, w.wins AS n_wins
       |FROM bg g JOIN bp$BtIters p ON g.i = p.i JOIN bw w ON w.i = g.i
       |GROUP BY g.i, p.p, w.wins
       |ORDER BY strength_e6 DESC, item""".stripMargin
  }

  /** ta5_winnow_fingerprint — winnowing document fingerprint (Schleimer,
    * Wilkerson, Aiken 2003 — the MOSS scheme): rolling token-4-gram hashes,
    * minimum per sliding window of 4, fingerprint = md5 over the sorted
    * distinct selected hashes. Guarantees any shared run of ≥ k+w−1 tokens
    * contributes a shared fingerprint member — the locality property ta4's
    * order-independent bag hash lacks. Pure array-HOF projection (one pass,
    * no shuffle until the final orderBy). */
  def ta5WinnowFingerprint(s: SparkSession, dir: String): DataFrame = {
    val k = 4; val w = 4
    // the gram-hash/window-min selection is ONE codegen loop per document
    // ([[graft.plans.WinnowMinsExpression]] — replaces four chained
    // CodegenFallback HOFs and a per-gram md5 hex round-trip); the md5
    // fingerprint over the sorted list stays a Column projection so the
    // oracle spelling is untouched. Old spelling kept as the
    // R19QueriesSpec witness ([[ta5WinnowFingerprintHof]]).
    t(s, dir, "documents")
      .filter(size(tokens(col("text"))) >= k + w - 1)
      .withColumn("mins", org.apache.spark.sql.GraftColumnBridge.column(
        graft.plans.WinnowMinsExpression(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")), k, w)))
      .select(col("doc_id"),
        md5(concat_ws(",", expr("transform(mins, x -> cast(x as string))")))
          .as("winnow_fp"),
        size(col("mins")).as("n_selected"))
      .orderBy("doc_id")
  }

  /** The chained-HOF spelling [[ta5WinnowFingerprint]] replaced — kept as
    * the equivalence witness. */
  private[queries] def ta5WinnowFingerprintHof(s: SparkSession, dir: String): DataFrame = {
    val k = 4; val w = 4
    t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= k + w - 1)
      .withColumn("grams", expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> concat_ws(' ', slice(toks, i, $k)))"))
      .withColumn("hs", expr(
        "transform(grams, g -> cast(conv(substring(md5(concat('0', g)), 1, 15), 16, 10) as bigint))"))
      .withColumn("mins", expr(
        s"transform(sequence(1, size(hs) - ${w - 1}), i -> array_min(slice(hs, i, $w)))"))
      .select(col("doc_id"),
        md5(concat_ws(",", expr("transform(array_sort(array_distinct(mins)), x -> cast(x as string))")))
          .as("winnow_fp"),
        size(expr("array_distinct(mins)")).as("n_selected"))
      .orderBy("doc_id")
  }

  val ta5WinnowFingerprintSql: String = {
    val k = 4; val w = 4
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE len(string_split(text, ' ')) >= ${k + w - 1}),
       |g AS (
       |  SELECT doc_id, list_transform(range(1, len(toks) - ${k - 2}),
       |    i -> array_to_string(toks[i:i+${k - 1}], ' ')) AS grams FROM d),
       |h AS (
       |  SELECT doc_id, list_transform(grams,
       |    g -> ('0x' || substr(md5('0' || g), 1, 15))::BIGINT) AS hs FROM g),
       |m AS (
       |  SELECT doc_id, list_transform(range(1, len(hs) - ${w - 2}),
       |    i -> list_min(hs[i:i+${w - 1}])) AS mins FROM h)
       |SELECT doc_id,
       |  md5(array_to_string(list_transform(list_sort(list_distinct(mins)),
       |    x -> CAST(x AS VARCHAR)), ',')) AS winnow_fp,
       |  CAST(len(list_distinct(mins)) AS INTEGER) AS n_selected
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** a26_distinct_ngrams — generation diversity: distinct-1 / distinct-2
    * (Li et al. 2016, "A Diversity-Promoting Objective Function for Neural
    * Conversation Models") over the candidate side of the a22 pair
    * convention (even doc_ids): unique n-grams ÷ total n-grams. The
    * degenerate-decoding tripwire every generation eval reports next to
    * BLEU/chrF/ROUGE — quality metrics reward copying the reference;
    * distinct-n catches a model that copies ONE reference everywhere.
    *
    * Scale shape: both gram orders explode from one projection (the a22
    * skeleton); the distinct count happens as a (n, gram)-keyed hash agg
    * (map-side combined, key finer than doc_id — skew impossible), then a
    * 2-group rollup. Zero joins, zero windows. */
  def a26DistinctNgrams(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(tokens(col("text")).as("tk"))
      .withColumn("g2", wordNgrams("tk", 2))
      .select(explode(concat(
        expr("transform(tk, x -> struct(1 AS n, x AS g))"),
        expr("transform(g2, x -> struct(2 AS n, x AS g))"))).as("p"))
      .select(col("p.n").as("n"), col("p.g").as("g"))
      .groupBy("n", "g").agg(count(lit(1)).as("c"))
      .groupBy("n").agg(sum("c").as("n_grams"), count(lit(1)).as("n_distinct"))
      .withColumn("distinct_e6",
        round(lit(1e6) * col("n_distinct") / col("n_grams")).cast(LongType))
      .orderBy("n")
  }

  val a26DistinctNgramsSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
      |  FROM documents WHERE doc_id % 2 = 0),
      |tokpos AS (SELECT doc_id, unnest(tk) AS w, generate_subscripts(tk, 1) AS pos FROM d),
      |big AS (SELECT doc_id, w || ' ' || LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |  FROM tokpos),
      |grams AS (
      |  SELECT 1 AS n, w AS g FROM tokpos
      |  UNION ALL
      |  SELECT 2 AS n, g FROM big WHERE g IS NOT NULL),
      |pg AS (SELECT n, g, COUNT(*) AS c FROM grams GROUP BY n, g)
      |SELECT n, CAST(SUM(c) AS BIGINT) AS n_grams, COUNT(*) AS n_distinct,
      |  CAST(ROUND(1e6 * COUNT(*) / CAST(SUM(c) AS BIGINT)) AS BIGINT) AS distinct_e6
      |FROM pg GROUP BY n ORDER BY n""".stripMargin

  /** ir8's Dirichlet prior. Zhai & Lafferty 2001 find the optimum is
    * corpus-dependent, growing with document length; the synthetic docs
    * average ~50 tokens, so the classic 2000 would drown the document
    * signal entirely — 100 keeps both terms live while staying the
    * published method. */
  private val QldMu = 100.0

  /** ir8_qld — query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty 2001, the LM-retrieval classic and BM25's standard rival):
    * score(d) = Σ_q ln((tf(q,d) + μ·cf(q)/T) / (dl + μ)) over
    * [[RetrievalQTerms]], where cf is COLLECTION frequency (total
    * occurrences, not document frequency — the defining difference from
    * the BM25/tf-idf family). Top-20 face like ta13.
    *
    * Scale shape: identical to [[bm25Scores]] — one corpus pass computes
    * per-doc tf and dl in a projection, the three collection frequencies
    * and T reduce to ONE broadcast row, scoring is arithmetic in the same
    * projection, TakeOrdered bounds the result. The corpus never
    * shuffles. */
  /** Full-corpus QLD scores — ir8's scoring stage without the top-20 cut,
    * shared with a32's ranker-agreement measurement. Session-materialized
    * under the `qld_core` tag (r21, the bm25_core recipe): unshared, every
    * consumer re-ran the two corpus passes (stats agg + scored projection)
    * — a32 alone evaluated it twice (global rank + top-20 cut), four
    * corpus tokenizations for one diagnostic. One checkpoint, every
    * consumer reads the scored rows. */
  private def qldScores(s: SparkSession, dir: String): DataFrame =
    graft.operators.SessionShare.materialized(s, dir, "qld_core")(qldScoresPlan(s, dir))

  private def qldScoresPlan(s: SparkSession, dir: String): DataFrame = {
    val qterms = RetrievalQTerms
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("dl", size(col("tk")))
    val statCols = sum("dl").as("total_t") +:
      qterms.map(q => sum(size(filter(col("tk"), x => x === lit(q))).cast(LongType))
        .as(s"cf_$q"))
    val stats = docs.agg(statCols.head, statCols.tail: _*)
    def termScore(q: String) = {
      val tf = size(filter(col("tk"), x => x === lit(q))).cast(DoubleType)
      val pc = col(s"cf_$q").cast(DoubleType) / col("total_t").cast(DoubleType)
      log((tf + lit(QldMu) * pc) / (col("dl").cast(DoubleType) + lit(QldMu)))
    }
    val score = qterms.map(termScore).reduceLeft(_ + _)
    docs.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        round(score * 1e6).cast(LongType).as("qld_e6"))
  }

  def ir8Qld(s: SparkSession, dir: String): DataFrame =
    qldScores(s, dir)
      .orderBy(desc("qld_e6"), col("doc_id"))
      .limit(20)

  /** DuckDB CTE bodies `qst`, `ql` — the full-corpus QLD oracle core
    * (expects CTE `d` from [[Bm25CtesSql]] in scope). */
  private def qldCtesSql: String = {
    val qterms = RetrievalQTerms
    val cfCols = qterms.map(q =>
      s"CAST(SUM(len(list_filter(tk, x -> x = '$q'))) AS BIGINT) AS cf_$q").mkString(",\n  ")
    def termScore(q: String) = {
      val tf = s"CAST(len(list_filter(tk, x -> x = '$q')) AS DOUBLE)"
      val pc = s"(CAST(cf_$q AS DOUBLE) / CAST(total_t AS DOUBLE))"
      s"ln(($tf + $QldMu * $pc) / (CAST(dl AS DOUBLE) + $QldMu))"
    }
    val score = qterms.map(termScore).mkString(" + ")
    s"""qst AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_t,
       |  $cfCols
       |  FROM d),
       |ql AS (SELECT doc_id, CAST(ROUND(($score) * 1e6) AS BIGINT) AS qld_e6
       |  FROM d CROSS JOIN qst)""".stripMargin
  }

  /** a32_rank_corr — inter-ranker agreement between the suite's two
    * lexical retrievers (BM25 and Dirichlet QLD) over the SAME query:
    * tie-broken Spearman ρ over the full corpus ranking plus top-20 set
    * overlap. The retrieval-stack diagnostic behind fusion: ρ ≈ 1 means a
    * second ranker adds nothing; low ρ with shared top-set is exactly
    * where RRF fusion (ir1/ir3/ir4) earns its keep. Ranks come from
    * [[graft.operators.Rank.globalRowNumber]] — the two-phase
    * range-partitioned rank, NOT an un-partitioned window — with the
    * (score desc, doc_id) total order, so ties resolve identically on
    * both engines (documented convention: tie-broken, not averaged-rank,
    * Spearman — integer scores tie often and averaging would cost a
    * second aggregate for a diagnostic). Σd² accumulates in
    * DECIMAL(38,0)/HUGEINT (the a29 convention — Σd² ≤ n³ wraps int64 at
    * ~2M docs); ρ itself is one double expression over exact integers.
    * Scale shape: two score projections (one is the pinned bm25_core),
    * two global ranks, one doc_id equi-join, 1-row aggregates. */
  def a32RankCorr(s: SparkSession, dir: String): DataFrame = {
    val bm = bm25Scores(s, dir).select("doc_id", "bm25_e6")
    val ql = qldScores(s, dir).select("doc_id", "qld_e6")
    val rb = graft.operators.Rank.globalRowNumber(bm, desc("bm25_e6"), col("doc_id"))
      .select(col("doc_id"), col("rank").as("rank_b"))
    val rq = graft.operators.Rank.globalRowNumber(ql, desc("qld_e6"), col("doc_id"))
      .select(col("doc_id"), col("rank").as("rank_q"))
    val agg = rb.join(rq, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("CAST(rank_b - rank_q AS DECIMAL(19,0)) * CAST(rank_b - rank_q AS DECIMAL(19,0))"))
          .cast("decimal(38,0)").as("sum_d2"))
    val tb = bm.orderBy(desc("bm25_e6"), col("doc_id")).limit(20).select("doc_id")
    val tq = ql.orderBy(desc("qld_e6"), col("doc_id")).limit(20).select("doc_id")
    val ov = tb.join(tq, Seq("doc_id")).agg(count(lit(1)).as("top20_overlap"))
    val nD = col("n_docs").cast(DoubleType)
    // r12 (VERDICT r11 #1): DECIMAL stays internal; the driver's hash layer
    // diverges on decimal-typed outputs even with equal values, so the exact
    // Σd² is emitted as a canonical digit STRING on both engines.
    agg.crossJoin(broadcast(ov))
      .withColumn("rho_e6", round(lit(1e6) * (lit(1.0) -
        lit(6.0) * col("sum_d2").cast(DoubleType) / (nD * (nD * nD - lit(1.0)))))
        .cast(LongType))
      .select(col("n_docs"), col("sum_d2").cast("string").as("sum_d2"),
        col("rho_e6"), col("top20_overlap"))
  }

  val a32RankCorrSql: String =
    s"""WITH $Bm25CtesSql,
       |$qldCtesSql,
       |rb AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25_e6 DESC, doc_id) AS rank_b FROM bm),
       |rq AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY qld_e6 DESC, doc_id) AS rank_q FROM ql),
       |ag AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(CAST(rank_b - rank_q AS HUGEINT) * CAST(rank_b - rank_q AS HUGEINT)) AS DECIMAL(38,0)) AS sum_d2
       |  FROM rb JOIN rq USING (doc_id)),
       |tb AS (SELECT doc_id FROM bm ORDER BY bm25_e6 DESC, doc_id LIMIT 20),
       |tq AS (SELECT doc_id FROM ql ORDER BY qld_e6 DESC, doc_id LIMIT 20),
       |ov AS (SELECT COUNT(*) AS top20_overlap FROM tb JOIN tq USING (doc_id))
       |SELECT n_docs, CAST(sum_d2 AS VARCHAR) AS sum_d2,
       |  CAST(ROUND(1e6 * (1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
       |    / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE) - 1.0)))) AS BIGINT) AS rho_e6,
       |  top20_overlap
       |FROM ag CROSS JOIN ov""".stripMargin

  val ir8QldSql: String = {
    val qterms = RetrievalQTerms
    val cfCols = qterms.map(q =>
      s"CAST(SUM(len(list_filter(tk, x -> x = '$q'))) AS BIGINT) AS cf_$q").mkString(",\n  ")
    def termScore(q: String) = {
      val tf = s"CAST(len(list_filter(tk, x -> x = '$q')) AS DOUBLE)"
      val pc = s"(CAST(cf_$q AS DOUBLE) / CAST(total_t AS DOUBLE))"
      s"ln(($tf + $QldMu * $pc) / (CAST(dl AS DOUBLE) + $QldMu))"
    }
    val score = qterms.map(termScore).mkString(" + ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |  len(string_split(text, ' ')) AS dl FROM documents),
       |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_t,
       |  $cfCols
       |  FROM d)
       |SELECT doc_id, dl, CAST(ROUND(($score) * 1e6) AS BIGINT) AS qld_e6
       |FROM d CROSS JOIN st ORDER BY qld_e6 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** a27's sample width: Self-BLEU is O(sample²) by definition (Zhu et al.
    * 2018 compute it on a sample, never the corpus), so the sample is a
    * deterministic bounded slice and the pair matrix is 10×9. */
  private val SelfBleuN = 10

  /** a27_self_bleu — Self-BLEU diversity (Zhu et al. 2018, "Texygen": the
    * standard ACROSS-set diversity metric — score each sampled generation
    * as a candidate against every other as the reference and average; HIGH
    * Self-BLEU = mode collapse). Complements a26: distinct-n sees
    * degenerate decoding WITHIN the gram distribution, Self-BLEU sees
    * copies ACROSS generations. Formulas are exactly a22's sentence BLEU-2
    * (unsmoothed p1, add-one p2, brevity penalty) so the two metrics are
    * comparable.
    *
    * Scale shape: the sample is a bounded TakeOrdered slice; gram counts
    * for it are a tiny (doc, n, gram) table; the clip join is equi on
    * (n, gram) and the full pair matrix is a broadcast non-equi join whose
    * both sides carry their limit — everything after the sample selection
    * is O(sample²), independent of corpus size. */
  def a27SelfBleu(s: SparkSession, dir: String): DataFrame = {
    val d = DoubleType
    val sample = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      .orderBy("doc_id").limit(SelfBleuN)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val grams = sample
      .withColumn("g2", wordNgrams("tk", 2))
      .select(col("doc_id"), explode(concat(
        expr("transform(tk, x -> struct(1 AS n, x AS g))"),
        expr("transform(g2, x -> struct(2 AS n, x AS g))"))).as("p"))
      .groupBy(col("doc_id"), col("p.n").as("n"), col("p.g").as("g"))
      .agg(count(lit(1)).as("cnt"))
    val clips = grams.select(col("doc_id").as("da"), col("n"), col("g"), col("cnt").as("ca"))
      .join(grams.select(col("doc_id").as("db"), col("n"), col("g"), col("cnt").as("cb")),
        Seq("n", "g"))
      .filter(col("da") =!= col("db"))
      .groupBy("da", "db")
      .agg(coalesce(sum(when(col("n") === 1, least(col("ca"), col("cb")))), lit(0L)).as("m1"),
        coalesce(sum(when(col("n") === 2, least(col("ca"), col("cb")))), lit(0L)).as("m2"))
    val lens = sample.select(col("doc_id"),
      size(col("tk")).cast("long").as("len1"),
      greatest(size(col("tk")) - 1, lit(0)).cast("long").as("len2"))
    val p1 = col("m1").cast(d) / col("c_len").cast(d)
    val p2 = (col("m2") + 1).cast(d) / (col("t2") + 1).cast(d)
    val bp = exp(least(lit(0.0).cast(d),
      lit(1.0).cast(d) - col("r_len").cast(d) / col("c_len").cast(d)))
    lens.select(col("doc_id").as("da"), col("len1").as("c_len"), col("len2").as("t2"))
      .join(broadcast(lens.select(col("doc_id").as("db"), col("len1").as("r_len"))),
        col("da") =!= col("db"))
      .join(clips, Seq("da", "db"), "left")
      .withColumn("m1", coalesce(col("m1"), lit(0L)))
      .withColumn("m2", coalesce(col("m2"), lit(0L)))
      .withColumn("bleu_e6", round(bp * sqrt(p1 * p2) * lit(1e6)).cast("long"))
      .groupBy("da")
      .agg(count(lit(1)).as("n_refs"), sum("bleu_e6").as("sum_e6"))
      .withColumn("self_bleu_e6",
        round(col("sum_e6").cast(d) / col("n_refs").cast(d)).cast("long"))
      .select(col("da").as("doc_id"), col("n_refs"), col("self_bleu_e6"))
      .orderBy("doc_id")
  }

  val a27SelfBleuSql: String =
    s"""WITH sample AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |  WHERE doc_id % 2 = 0 ORDER BY doc_id LIMIT $SelfBleuN),
       |tokpos AS (
       |  SELECT doc_id, unnest(tk) AS w, generate_subscripts(tk, 1) AS pos FROM sample),
       |big AS (
       |  SELECT doc_id, w || ' ' || LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS g
       |  FROM tokpos),
       |grams AS (
       |  SELECT doc_id, n, g, COUNT(*) AS cnt FROM (
       |    SELECT doc_id, 1 AS n, w AS g FROM tokpos
       |    UNION ALL
       |    SELECT doc_id, 2 AS n, g FROM big WHERE g IS NOT NULL) t
       |  GROUP BY doc_id, n, g),
       |clips AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |    CAST(COALESCE(SUM(CASE WHEN a.n = 1 THEN least(a.cnt, b.cnt) END), 0) AS BIGINT) AS m1,
       |    CAST(COALESCE(SUM(CASE WHEN a.n = 2 THEN least(a.cnt, b.cnt) END), 0) AS BIGINT) AS m2
       |  FROM grams a JOIN grams b ON a.n = b.n AND a.g = b.g AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2),
       |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS len1,
       |  CAST(greatest(len(tk) - 1, 0) AS BIGINT) AS len2 FROM sample),
       |pairs AS (
       |  SELECT la.doc_id AS da, lb.doc_id AS db, la.len1 AS c_len, la.len2 AS t2,
       |    lb.len1 AS r_len, COALESCE(c.m1, 0) AS m1, COALESCE(c.m2, 0) AS m2
       |  FROM lens la JOIN lens lb ON la.doc_id <> lb.doc_id
       |  LEFT JOIN clips c ON c.da = la.doc_id AND c.db = lb.doc_id),
       |scored AS (
       |  SELECT da,
       |    CAST(ROUND(exp(least(CAST(0 AS DOUBLE), 1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE))) *
       |      sqrt((CAST(m1 AS DOUBLE) / CAST(c_len AS DOUBLE)) *
       |           (CAST(m2 + 1 AS DOUBLE) / CAST(t2 + 1 AS DOUBLE))) * 1e6) AS BIGINT) AS bleu_e6
       |  FROM pairs)
       |SELECT da AS doc_id, COUNT(*) AS n_refs,
       |  CAST(ROUND(CAST(SUM(bleu_e6) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS self_bleu_e6
       |FROM scored GROUP BY da ORDER BY doc_id""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    "a26_distinct_ngrams" -> (a26DistinctNgrams _),
    "a27_self_bleu" -> (a27SelfBleu _),
    "ir8_qld" -> (ir8Qld _),
    "p1_candidate_filter" -> (p1CandidateFilter _),
    "p5_short_filter" -> (p5ShortFilter _),
    "f1_clean_chain" -> (f1CleanChain _),
    "f21_unicode_normalize" -> (f21UnicodeNormalize _),
    "f22_strip_accents" -> (f22StripAccents _),
    "f5_token_filter" -> (f5TokenFilter _),
    "f13_lemmatize" -> (f13Lemmatize _),
    "f14_porter_stem" -> (f14PorterStem _),
    "f15_spellcheck" -> (f15Spellcheck _),
    "f17_deterministic_id" -> (f17DeterministicId _),
    "f18_parse_stringified_list" -> (f18ParseStringifiedList _),
    "f19_plus_join" -> (f19PlusJoin _),
    "ta1_langid" -> (ta1LangId _),
    "a14_confusion_matrix" -> (a14ConfusionMatrix _),
    "a18_roc_auc" -> (a18RocAuc _),
    "a19_pr_auc" -> (a19PrAuc _),
    "a20_mcnemar" -> (a20Mcnemar _),
    "a15_cohens_kappa" -> (a15CohensKappa _),
    "a33_fleiss_kappa" -> (a33FleissKappa _),
    "a34_krippendorff" -> (a34Krippendorff _),
    "ta2_quality_score" -> (ta2QualityScore _),
    "ta10_gopher_rules" -> (ta10GopherRules _),
    "ta12_readability" -> (ta12Readability _),
    "ta18_c4_rules" -> (ta18C4Rules _),
    "ta13_bm25" -> (ta13Bm25 _),
    "ir1_rrf_fusion" -> (ir1RrfFusion _),
    "ir2_prf_expansion" -> (ir2PrfExpansion _),
    "a21_ndcg" -> (a21Ndcg _),
    "ir5_inverted_index" -> (ir5InvertedIndex _),
    "ir6_postings_bm25" -> (ir6PostingsBm25 _),
    "ir6b_persisted_postings" -> (ir6bPersistedPostings _),
    "ir9_blockmax_bm25" -> (ir9BlockmaxBm25 _),
    "ir10_delta_index" -> (ir10DeltaIndex _),
    "ir14_tombstone_index" -> (ir14TombstoneIndex _),
    "ir14b_expunged_serve" -> (ir14bExpungedServe _),
    "ir15_feed_index" -> (ir15FeedIndex _),
    "ir16_query_batch" -> (ir16QueryBatch _),
    "ir20_cdc_query_batch" -> (ir20CdcQueryBatch _),
    "ir21_phrase_batch" -> (ir21PhraseBatch _),
    "ir25_phrase_batch100" -> (ir25PhraseBatch100 _),
    "ir22_sized_feed" -> (ir22SizedFeed _),
    "ir23_sized_query_batch" -> (ir23SizedQueryBatch _),
    "ir24_query_batch100" -> (ir24QueryBatch100 _),
    "ir26_blockmax_batch" -> (ir26BlockmaxBatch _),
    "ir17_snippets" -> (ir17Snippets _),
    "ir18_tombstone_phrase" -> (ir18TombstonePhrase _),
    "ir18b_expunged_phrase" -> (ir18bExpungedPhrase _),
    "ir19_feed_phrase" -> (ir19FeedPhrase _),
    "ir11_phrase_query" -> (ir11PhraseQuery _),
    "ir13_proximity_query" -> (ir13ProximityQuery _),
    "ir13b_unordered_near" -> (ir13bUnorderedNear _),
    "ir12_training_pairs" -> (ir12TrainingPairs _),
    "ir11b_persisted_positions" -> (ir11bPersistedPositions _),
    "a35_pass_at_k" -> (a35PassAtK _),
    "a36_bradley_terry" -> (a36BradleyTerry _),
    "a22_bleu" -> (a22Bleu _),
    "a30_bootstrap_ci" -> (a30BootstrapCi _),
    "a32_rank_corr" -> (a32RankCorr _),
    "a23_chrf" -> (a23Chrf _),
    "a24_rouge_l" -> (a24RougeL _),
    "a25_wer" -> (a25Wer _),
    "ta3_token_count" -> (ta3TokenCount _),
    "ta4_fingerprint" -> (ta4Fingerprint _),
    "ta5_winnow_fingerprint" -> (ta5WinnowFingerprint _),
    "ta6_tfidf" -> (ta6Tfidf _))

  val oracles: Map[String, String] = Map(
    "a26_distinct_ngrams" -> a26DistinctNgramsSql,
    "a27_self_bleu" -> a27SelfBleuSql,
    "ir8_qld" -> ir8QldSql,
    "p1_candidate_filter" -> p1CandidateFilterSql,
    "p5_short_filter" -> p5ShortFilterSql,
    "f1_clean_chain" -> f1CleanChainSql,
    "f21_unicode_normalize" -> f21UnicodeNormalizeSql,
    "f22_strip_accents" -> f22StripAccentsSql,
    "f5_token_filter" -> f5TokenFilterSql,
    "f13_lemmatize" -> f13LemmatizeSql,
    "f14_porter_stem" -> f14PorterStemSql,
    "f15_spellcheck" -> f15SpellcheckSql,
    "f17_deterministic_id" -> f17DeterministicIdSql,
    "f18_parse_stringified_list" -> f18ParseStringifiedListSql,
    "f19_plus_join" -> f19PlusJoinSql,
    "ta1_langid" -> ta1LangIdSql,
    "a14_confusion_matrix" -> a14ConfusionMatrixSql,
    "a18_roc_auc" -> a18RocAucSql,
    "a19_pr_auc" -> a19PrAucSql,
    "a20_mcnemar" -> a20McnemarSql,
    "a15_cohens_kappa" -> a15CohensKappaSql,
    "a33_fleiss_kappa" -> a33FleissKappaSql,
    "a34_krippendorff" -> a34KrippendorffSql,
    "ta2_quality_score" -> ta2QualityScoreSql,
    "ta10_gopher_rules" -> ta10GopherRulesSql,
    "ta12_readability" -> ta12ReadabilitySql,
    "ta18_c4_rules" -> ta18C4RulesSql,
    "ta13_bm25" -> ta13Bm25Sql,
    "ir1_rrf_fusion" -> ir1RrfFusionSql,
    "ir2_prf_expansion" -> ir2PrfExpansionSql,
    "a21_ndcg" -> a21NdcgSql,
    "ir5_inverted_index" -> ir5InvertedIndexSql,
    "ir6_postings_bm25" -> ir6PostingsBm25Sql,
    // the persisted detour is invisible to the answer: ir6b ≡ ir6;
    // ir9's block-max pruning likewise prunes only provably-beaten blocks
    "ir6b_persisted_postings" -> ir6PostingsBm25Sql,
    "ir9_blockmax_bm25" -> ir6PostingsBm25Sql,
    // segment merge is invisible to the answer: ir10 ≡ ir6
    "ir10_delta_index" -> ir6PostingsBm25Sql,
    // tombstone subtraction is exact: ir14 ≡ ir6 over the post-change corpus
    "ir14_tombstone_index" -> ir14TombstoneIndexSql,
    // expunge-fold is answer-invariant by construction: ir14b ≡ ir14
    "ir14b_expunged_serve" -> ir14TombstoneIndexSql,
    "ir15_feed_index" -> ir15FeedIndexSql,
    "ir16_query_batch" -> ir16QueryBatchSql,
    "ir20_cdc_query_batch" -> ir20CdcQueryBatchSql,
    "ir21_phrase_batch" -> ir21PhraseBatchSql,
    "ir25_phrase_batch100" -> ir25PhraseBatch100Sql,
    "ir22_sized_feed" -> ir22SizedFeedSql,
    "ir23_sized_query_batch" -> ir23SizedQueryBatchSql,
    "ir24_query_batch100" -> ir24QueryBatch100Sql,
    // block pruning is answer-invisible: ir26 ≡ ir24
    "ir26_blockmax_batch" -> ir26BlockmaxBatchSql,
    "ir17_snippets" -> ir17SnippetsSql,
    "ir18_tombstone_phrase" -> ir18TombstonePhraseSql,
    // expunge-fold is answer-invariant by construction: ir18b ≡ ir18
    "ir18b_expunged_phrase" -> ir18TombstonePhraseSql,
    // the feed generator replays the same rules: ir19 ≡ ir18
    "ir19_feed_phrase" -> ir18TombstonePhraseSql,
    "ir11_phrase_query" -> ir11PhraseQuerySql,
    "ir13_proximity_query" -> ir13ProximityQuerySql,
    "ir13b_unordered_near" -> ir13bUnorderedNearSql,
    "ir12_training_pairs" -> ir12TrainingPairsSql,
    // the persisted detour is invisible to the answer: ir11b ≡ ir11
    "ir11b_persisted_positions" -> ir11PhraseQuerySql,
    "a35_pass_at_k" -> a35PassAtKSql,
    "a36_bradley_terry" -> a36BradleyTerrySql,
    "a22_bleu" -> a22BleuSql,
    "a30_bootstrap_ci" -> a30BootstrapCiSql,
    "a32_rank_corr" -> a32RankCorrSql,
    "a23_chrf" -> a23ChrfSql,
    "a24_rouge_l" -> a24RougeLSql,
    "a25_wer" -> a25WerSql,
    "ta3_token_count" -> ta3TokenCountSql,
    "ta4_fingerprint" -> ta4FingerprintSql,
    "ta5_winnow_fingerprint" -> ta5WinnowFingerprintSql,
    "ta6_tfidf" -> ta6TfidfSql)
}
