package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Multimodal
import graft.streaming.IndexMaintenance
import graft.streaming.IndexMaintenance.{Appends, Feed, SizedFeed, Tombstones}
import Q._

/** Multimodal-column queries — binary payloads + typed metadata derived
  * deterministically from `documents` (payload = UTF-8 text bytes; STUB for
  * real media, real plumbing). Oracle checks cover the relational facts
  * (byte lengths, frame counts, metadata math); byte-moment features are
  * covered in MultimodalSpec. */
object MultimodalQueries {

  /** mm1_asset_bytes — asset table projection: modality routing + payload
    * size + metadata arithmetic. */
  def mm1AssetBytes(s: SparkSession, dir: String): DataFrame =
    Multimodal.documentsAsAssets(t(s, dir, "documents"))
      .select(col("asset_id").cast(LongType).as("asset_id"), col("modality"),
        length(col("content")).as("n_bytes"),
        col("meta.width").as("width"), col("meta.duration_ms").as("duration_ms"))
      .orderBy("asset_id")

  val mm1AssetBytesSql: String =
    """SELECT doc_id AS asset_id,
      |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
      |  octet_length(encode(text)) AS n_bytes,
      |  CAST(n_chars % 640 AS INT) AS width,
      |  n_chars * 10 AS duration_ms
      |FROM documents ORDER BY asset_id""".stripMargin

  /** mm2_frame_sample — every-4th 32-byte frame of each payload: kept-frame
    * count (the sampling plan of a video pipeline, pure codegen). */
  def mm2FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.documentsAsAssets(t(s, dir, "documents"))
      .select(col("asset_id").cast(LongType).as("asset_id"),
        size(Multimodal.sampledFrameIndices(col("content"), 32, 4)).as("n_sampled"))
      .orderBy("asset_id")

  val mm2FrameSampleSql: String =
    """SELECT doc_id AS asset_id,
      |  CAST((octet_length(encode(text)) // 32 + 3) // 4 AS INT) AS n_sampled
      |FROM documents ORDER BY asset_id""".stripMargin

  /** mm3_frame_dedup — cross-asset binary frame deduplication: every
    * complete 32-byte frame of every payload hashes (md5 over the raw
    * bytes), identical frames collapse to one canonical copy (min
    * (asset_id, frame_idx)), and each asset reports owned vs deduped frame
    * counts — e2e2's chunk-index move at the BINARY level (video pipelines
    * dedup identical frames/segments exactly like this; the hash join never
    * touches the payload after the projection). The oracle replays the
    * hashes because the stub payload is the UTF-8 text bytes (ASCII ⇒ byte
    * positions = char positions); a real codec payload would swap the
    * derivation, not the plan. */
  def mm3FrameDedup(s: SparkSession, dir: String): DataFrame = {
    val frames = Multimodal.documentsAsAssets(t(s, dir, "documents"))
      .select(col("asset_id").cast(LongType).as("asset_id"), col("content"))
      .withColumn("nf", (length(col("content")) / 32).cast(IntegerType))
      .filter(col("nf") >= 1)
      .select(col("asset_id"), col("content"),
        explode(sequence(lit(0), col("nf") - 1)).as("fi"))
      .select(col("asset_id"), col("fi"),
        md5(expr("substring(content, fi * 32 + 1, 32)")).as("fh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fh").orderBy("asset_id", "fi")
    frames.withColumn("rn", row_number().over(w))
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_canonical"))
      .withColumn("n_dup", col("n_frames") - col("n_canonical"))
      .orderBy("asset_id")
  }

  val mm3FrameDedupSql: String =
    """WITH a AS (
      |  SELECT doc_id AS asset_id, text, CAST(len(text) // 32 AS INT) AS nf
      |  FROM documents WHERE len(text) >= 32),
      |f AS (SELECT asset_id, text, unnest(range(0, nf)) AS fi FROM a),
      |h AS (SELECT asset_id, fi,
      |  md5(substr(text, CAST(fi * 32 + 1 AS INT), 32)) AS fh FROM f),
      |r AS (SELECT asset_id,
      |  ROW_NUMBER() OVER (PARTITION BY fh ORDER BY asset_id, fi) AS rn FROM h)
      |SELECT asset_id, COUNT(*) AS n_frames,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
      |  COUNT(*) - CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |FROM r GROUP BY asset_id ORDER BY asset_id""".stripMargin

  /** e4-fixed DCT-II basis, Ce4(u)(r) = round(1e4·cos((2r+1)uπ/16)) — the
    * 8×8 coefficient table of the pHash transform, computed ONCE here and
    * embedded as integer literals in BOTH engines' expressions (single
    * source of truth; the values are exact integers so the engines cannot
    * diverge). */
  private val Ce4: Array[Array[Long]] =
    Array.tabulate(8, 8)((u, r) => math.round(1e4 * math.cos((2 * r + 1) * u * math.Pi / 16)))

  private val MaxHamming = 3
  private val BandBits = 16 // 4 bands × 16 bits — the dd9 pigeonhole split

  // the DCT stages as explicit constant-folded sums (a lambda-indexed
  // literal table re-materializes the table per element on both engines —
  // measured 28 s → 1.7 s in the oracle for this spelling)
  private def tvTerms(elem: (Int, Int) => String): String =
    (0 until 64).map { j =>
      (0 until 8).map(r => s"(${Ce4(j / 8)(r)}) * ${elem(8 * r + j % 8 + 1, j)}").mkString(" + ")
    }.mkString(", ")

  private def fvTerms(elem: Int => String): String =
    (0 until 64).map { j =>
      (0 until 8).map(c => s"${elem((j / 8) * 8 + c + 1)} * (${Ce4(j % 8)(c)})").mkString(" + ")
    }.mkString(", ")

  /** mm4_phash_neardup — perceptual-hash near-duplicate detection for the
    * binary/image modality: mm1–mm3 stop at EXACT frame-hash dedup; real
    * multimodal pipelines dedup perceptually. pHash (Zauner 2010): 8×8
    * grayscale thumbnail (here: the payload's byte stream average-pooled
    * into 64 equal blocks — STUB for a real image resample, same integer
    * plumbing) → 2D DCT-II in e4 fixed point (separable: two 64×8-term
    * constant-folded passes) → 64-bit sign-vs-median hash → dd9's banded
    * Hamming pairing (4×16-bit bands, pigeonhole-exact at distance ≤ 3,
    * equi-join on (band, key), NEVER all-pairs) → exact bit_count verify.
    * Emits per-asset: the hash, banded candidate count, and verified
    * near-dup count (per-asset rather than pair rows: the text-derived
    * stand-in payloads are perceptually distinct — byte INSERTIONS shift
    * block alignment, unlike the local perturbations pHash is built for —
    * so the honest corpus answer is hashes + zero/low counts, and
    * MultimodalSpec proves the perceptual property directly with a
    * locally-perturbed copy). Fully integer end-to-end.
    *
    * Scale shape: hash = ONE projection pass over each payload (char
    * explode is per-doc-local, no shuffle); banding explodes 4 rows per
    * asset; candidates come from the (band, key) hash equi-join;
    * per-asset rollup + one left join back. The corpus never pairs
    * all-against-all. */
  /** (asset_id, phash64) for any (doc_id, text) frame — the hash stage of
    * mm4, exposed so MultimodalSpec can prove the perceptual property
    * (locally perturbed copy → small Hamming distance) on fixture data. */
  private[graft] def phashSigs(docs: DataFrame): DataFrame =
    // the DCT chain as ONE native codegen loop
    // ([[graft.plans.Phash64Expression]], bit-identical by construction):
    // the unrolled 64-wide expression tree blew janino's 64 KB method
    // limit, so every hashed row paid INTERPRETED eval — the family's
    // dominant per-row cost at every scale
    docs
      .filter(length(col("text")) >= 64)
      .select(col("doc_id").cast(LongType).as("asset_id"),
        org.apache.spark.sql.GraftColumnBridge.column(graft.plans.Phash64Expression(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text"))))
          .as("phash64"))

  /** (asset_id, phash64, band, key) band rows — mm4's blocking layout,
    * shared with mm7's persisted/delta faces. */
  private def bandedPhash(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until 64 / BandBits).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("phash64"), b * BandBits)
          .bitwiseAND(lit((1L << BandBits) - 1)).as("key"))
    }
    sig.select(col("asset_id"), col("phash64"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("asset_id"), col("phash64"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** The Hamming adjudication of a raw (id_a, id_b, sa, sb) pair frame —
    * applied ONCE (at build/fold/pairing time) and persisted as the
    * `near` flag, so counting never re-reads signatures. */
  private def withNear(cand: DataFrame): DataFrame =
    cand.select(col("id_a"), col("id_b"),
      (expr(s"bit_count(sa ^ sb)") <= MaxHamming).as("near"))

  /** Per-asset candidate/near counts over a distinct NEAR-FLAGGED ordered
    * pair set — the delta legs' aggregation in mm7/mm8's merge. */
  private def phashPairCounts(cand: DataFrame): DataFrame =
    cand.groupBy(col("id_a").as("asset_id"))
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("near"), 1L).otherwise(0L)).as("n_near"))

  private val NumBands = 64 / BandBits // 4
  private val SubBits = 12             // 48 remaining bits → 4×12-bit slices
  private val NumSubs = (64 - BandBits) / SubBits
  /** The 6 band pairs (i<j) in lexicographic order — the double-band
    * blocking alphabet of the overlap correction. */
  private val BandPairs: Seq[(Int, Int)] =
    for { i <- 0 until NumBands; j <- (i + 1) until NumBands } yield (i, j)

  private def chunkOf(x: Column, i: Int): Column =
    shiftright(x, i * BandBits).bitwiseAND(lit((1L << BandBits) - 1))

  /** #zero 16-bit chunks of `x` = #common bands of the pair whose xor is x. */
  private def zeroChunkCount(x: Column): Column =
    (0 until NumBands).map(i => when(chunkOf(x, i) === 0L, 1).otherwise(0))
      .reduce(_ + _)

  /** Smallest band index whose chunk of `x` is zero — defined on any pair
    * drawn from a shared (band, key) bucket (that band's chunk IS zero). */
  private def minCommonBand(x: Column): Column =
    (0 until NumBands - 1).foldRight(lit(NumBands - 1): Column) { (i, acc) =>
      when(chunkOf(x, i) === 0L, lit(i)).otherwise(acc)
    }

  /** Lexicographically smallest band PAIR both of whose chunks of `x` are
    * zero — defined on any pair drawn from a shared (bp, pkey) bucket. */
  private def minCommonBandpair(x: Column): Column = {
    val conds = BandPairs.zipWithIndex.map { case ((i, j), bp) =>
      (chunkOf(x, i) === 0L && chunkOf(x, j) === 0L, bp)
    }
    conds.init.foldRight(lit(conds.last._2): Column) { case ((c, bp), acc) =>
      when(c, lit(bp)).otherwise(acc)
    }
  }

  /** The 48 non-`i` bits of `c`, chunks in ascending band order. */
  private def remOf(c: Column, i: Int): Column =
    (0 until NumBands).filterNot(_ == i).zipWithIndex
      .map { case (j, t) => shiftleft(chunkOf(c, j), t * BandBits) }
      .reduce((a, b) => a.bitwiseOR(b))

  private def sliceOf(rem: Column, s: Int): Column =
    shiftright(rem, s * SubBits).bitwiseAND(lit((1L << SubBits) - 1))

  /** Smallest sub-band index whose 12-bit slice of x's remainder (under
    * x's minimal common band, passed as `band`) is zero — defined whenever
    * bit_count(x) ≤ MaxHamming < NumSubs (pigeonhole on the slices). */
  private def minSubFor(x: Column, band: Column): Column = {
    val remX = (0 until NumBands - 1).foldRight(remOf(x, NumBands - 1)) { (i, acc) =>
      when(band === lit(i), remOf(x, i)).otherwise(acc)
    }
    (0 until NumSubs - 1).foldRight(lit(NumSubs - 1): Column) { (s2, acc) =>
      when(sliceOf(remX, s2) === 0L, lit(s2)).otherwise(acc)
    }
  }

  /** (asset_id, phash64, bp, pkey) — 6 rows per asset, one per band pair,
    * pkey = the two chunks concatenated (32 bits). Only pairs sharing BOTH
    * chunks of some band pair collide here: ~2⁻³² for independent hashes,
    * so bucket populations track true correlation (duplicates/templates),
    * never the corpus size. */
  private def bandpairBanded(sig: DataFrame): DataFrame = {
    val structs = BandPairs.zipWithIndex.map { case ((i, j), bp) =>
      struct(lit(bp).as("bp"),
        chunkOf(col("phash64"), i)
          .bitwiseOR(shiftleft(chunkOf(col("phash64"), j), BandBits)).as("pkey"))
    }
    sig.select(col("asset_id"), col("phash64"), explode(array(structs: _*)).as("bk"))
      .select(col("asset_id"), col("phash64"), col("bk.bp").as("bp"),
        col("bk.pkey").as("pkey"))
  }

  /** (asset_id, phash64, band, key, sub, skey) — 16 rows per asset: the
    * (band, key) blocking of [[bandedPhash]] refined by a 12-bit slice of
    * the remaining 48 bits. A near pair (Hamming ≤ 3) has ≥1 zero chunk
    * (4×16 pigeonhole) AND, within that band, ≥1 zero 12-bit slice of the
    * 48-bit remainder (4×12 pigeonhole on ≤3 set bits) — so every near
    * pair collides in at least one of these 28-bit buckets, whose
    * populations are collision-rare for non-near signatures. */
  private def nearBanded(sig: DataFrame): DataFrame = {
    val structs = for { b <- 0 until NumBands; sb <- 0 until NumSubs } yield
      struct(lit(b).as("band"), chunkOf(col("phash64"), b).as("key"),
        lit(sb).as("sub"), sliceOf(remOf(col("phash64"), b), sb).as("skey"))
    sig.select(col("asset_id"), col("phash64"), explode(array(structs: _*)).as("bk"))
      .select(col("asset_id"), col("phash64"), col("bk.band").as("band"),
        col("bk.key").as("key"), col("bk.sub").as("sub"), col("bk.skey").as("skey"))
  }

  /** Exact per-asset (n_cand, n_near) in LINEAR work, shuffle, and output —
    * no Σ|bucket|² pass anywhere (VERDICT r19 #1/#8; the r19 spelling
    * enumerated every banded candidate pair, ~N²/65536 rows under the
    * fixed 4×16-bit alphabet, and exhausted disk at 5M assets):
    *
    *  - n_cand(a) = Σ_bands (population of a's (band, key) bucket − 1)
    *    minus an overlap correction: a partner sharing k bands is counted
    *    k times by the population sum, so pairs with k ≥ 2 subtract
    *    (k − 1), enumerated ONCE each from their minimal shared band pair
    *    (32-bit double-band buckets — populated only by correlated
    *    signatures). Population table ≤ 4·2¹⁶ rows → broadcast.
    *  - n_near(a) enumerates only pairs colliding in a (band, key16, sub,
    *    key12) bucket — every Hamming ≤ 3 pair does (double pigeonhole,
    *    see [[nearBanded]]) — adjudicates bit_count exactly, and emits
    *    once from the minimal (band, sub).
    *
    * Equality with the r19 all-pairs spelling is pinned by R20QueriesSpec
    * against [[phashCountsQuadratic]]; the SQL oracle (mm4PhashNeardupSql)
    * replays the quadratic definition in DuckDB. */
  private[queries] def phashCounts(sigs: DataFrame): DataFrame = {
    // r21 (VERDICT r20 #2): every pair leg joins DISTINCT signatures, not
    // assets. A web corpus's blank/logo assets form huge EXACT-equal pHash
    // clusters; the r20 spelling's near/overlap self-joins enumerated
    // every within-cluster pair (a 100k-identical cluster = ~10¹⁰ join
    // rows). Per-signature counts suffice: two assets with the same
    // signature have identical (n_cand, n_near), an equal-signature
    // partner is always a candidate (k = 4 shared bands, counted 4 by the
    // population sum, corrected by 3) and always near (Hamming 0) — so
    // the equal-cluster terms are CLOSED FORM in the cluster size c
    // (over += 3·(c−1), near += c−1), and the joins only ever see one
    // representative per signature, weighted by multiplicity. Work is now
    // linear in assets plus bucket-quadratic in DISTINCT signatures —
    // identical-cluster corpora cost one row per cluster
    // (R21DegenerateCorpusSpec; bit-equality with the all-pairs witness
    // stays pinned by R20QueriesSpec on every branch-coverage corpus).
    val bySig = sigs.groupBy("phash64").agg(count(lit(1)).as("__c"))
    // one representative per distinct signature; its own value doubles as
    // the join id, so `id_a =!= id_b` below is exactly `sa =!= sb`
    val rep = bySig.select(col("phash64").as("asset_id"), col("phash64"))
    // bucket populations still count ASSETS (one map-side pass over the
    // 4-banded asset rows, exactly the r20 leg); alphabet-bounded
    // ≤ 4·2¹⁶ rows → broadcast, as before. The per-SIGNATURE population
    // sum then reads one banded row per distinct signature.
    val pop = bandedPhash(sigs).groupBy("band", "key").agg(count(lit(1)).as("__pop"))
    val popSum = bandedPhash(rep).join(broadcast(pop), Seq("band", "key"))
      .groupBy(col("phash64"))
      .agg(sum(col("__pop") - 1L).as("pop_sum"))
    // matched-pair emission is unique per (sa, sb) — minimal band-pair /
    // minimal (band, sub) — so the b-side multiplicity attaches to the
    // TINY pair tables after the join, never to the banded frames
    val cOfB = bySig.select(col("phash64").as("sb"), col("__c").as("__cb"))
    val pb = bandpairBanded(rep)
    val over = pb.select(col("asset_id").as("id_a"), col("phash64").as("sa"),
        col("bp"), col("pkey"))
      .join(pb.select(col("asset_id").as("id_b"), col("phash64").as("sb"),
        col("bp"), col("pkey")), Seq("bp", "pkey"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("__x", col("sa").bitwiseXOR(col("sb")))
      .filter(col("bp") === minCommonBandpair(col("__x")))
      .select(col("id_a"), col("sb"),
        (zeroChunkCount(col("__x")).cast(LongType) - 1L).as("__w"))
      .join(cOfB, Seq("sb"))
      .groupBy(col("id_a").as("phash64"))
      .agg(sum(col("__w") * col("__cb")).as("over_ext"))
    val nb = nearBanded(rep)
    val near = nb.select(col("asset_id").as("id_a"), col("phash64").as("sa"),
        col("band"), col("key"), col("sub"), col("skey"))
      .join(nb.select(col("asset_id").as("id_b"), col("phash64").as("sb"),
        col("band"), col("key"), col("sub"), col("skey")),
        Seq("band", "key", "sub", "skey"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("__x", col("sa").bitwiseXOR(col("sb")))
      .filter(expr("bit_count(__x)") <= MaxHamming)
      .filter(col("band") === minCommonBand(col("__x")) &&
        col("sub") === minSubFor(col("__x"), col("band")))
      .select(col("id_a"), col("sb"))
      .join(cOfB, Seq("sb"))
      .groupBy(col("id_a").as("phash64")).agg(sum("__cb").as("near_ext"))
    val perSig = bySig
      .join(popSum, Seq("phash64"), "left")
      .join(over, Seq("phash64"), "left")
      .join(near, Seq("phash64"), "left")
      .select(col("phash64"),
        (coalesce(col("pop_sum"), lit(0L)) -
          (coalesce(col("over_ext"), lit(0L)) + lit(3L) * (col("__c") - 1L)))
          .as("n_cand"),
        (coalesce(col("near_ext"), lit(0L)) + (col("__c") - 1L)).as("n_near"))
    sigs.join(perSig, Seq("phash64"), "left")
      .select(col("asset_id"), col("phash64"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
  }

  /** The r19 all-pairs spelling of [[phashCounts]] — Σ|bucket|² work.
    * Retained ONLY as the parity witness for R20QueriesSpec; not on any
    * query or build path. */
  private[queries] def phashCountsQuadratic(sigs: DataFrame): DataFrame = {
    val banded = bandedPhash(sigs)
    val cand = banded.select(col("asset_id").as("id_a"), col("phash64").as("sa"),
        col("band"), col("key"))
      .join(banded.select(col("asset_id").as("id_b"), col("phash64").as("sb"),
        col("band"), col("key")), Seq("band", "key"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b", "sa", "sb").distinct()
    val cnt = phashPairCounts(withNear(cand))
    sigs.join(cnt, Seq("asset_id"), "left")
      .select(col("asset_id"), col("phash64"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
  }

  def mm4PhashNeardup(s: SparkSession, dir: String): DataFrame =
    phashCounts(phashSigs(t(s, dir, "documents"))).orderBy("asset_id")

  val mm4PhashNeardupSql: String = {
    val bits = (0 until 64).map { j =>
      val bit = if (j == 63) "(-9223372036854775807 - 1)" else s"(CAST(1 AS BIGINT) << $j)"
      s"CASE WHEN fv[${j + 1}] > med THEN $bit ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id, text, CAST(len(text) AS BIGINT) AS n
       |  FROM documents WHERE len(text) >= 64),
       |codes AS (
       |  SELECT asset_id, n,
       |    list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS cs FROM a),
       |g AS (
       |  SELECT asset_id,
       |    list_transform(range(0, 64), k ->
       |      list_sum(cs[CAST(k * n // 64 + 1 AS INT) : CAST((k + 1) * n // 64 AS INT)])
       |      // ((k + 1) * n // 64 - k * n // 64)) AS gv
       |  FROM codes),
       |t AS (SELECT asset_id, [${tvTerms((i, _) => s"gv[$i]")}] AS tv FROM g),
       |f AS (SELECT asset_id, [${fvTerms(i => s"tv[$i]")}] AS fv FROM t),
       |m AS (SELECT asset_id, fv, list_sort(fv)[32] AS med FROM f),
       |sig AS (SELECT asset_id, CAST($bits AS BIGINT) AS phash64 FROM m),
       |banded AS (
       |  SELECT asset_id, phash64, band, (phash64 >> (band * $BandBits)) & ${(1L << BandBits) - 1} AS key
       |  FROM sig, (SELECT unnest(range(0, ${64 / BandBits})) AS band)),
       |cand AS (
       |  SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b, a.phash64 AS sa, b.phash64 AS sb
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.asset_id <> b.asset_id),
       |cnt AS (
       |  SELECT id_a AS asset_id, COUNT(*) AS n_cand,
       |    CAST(SUM(CASE WHEN bit_count(xor(sa, sb)) <= $MaxHamming THEN 1 ELSE 0 END) AS BIGINT) AS n_near
       |  FROM cand GROUP BY id_a)
       |SELECT s.asset_id, s.phash64, COALESCE(c.n_cand, 0) AS n_cand, COALESCE(c.n_near, 0) AS n_near
       |FROM sig s LEFT JOIN cnt c USING (asset_id) ORDER BY asset_id""".stripMargin
  }

  /** mm5's silence rule on the stand-in payload: a 32-byte frame is
    * "silent" when ≥ 7 of its bytes are spaces (the text corpus's pause
    * tokens — ~12% of frames at the corpus space density; a real PCM
    * payload would swap in an RMS-energy threshold, same integer
    * plumbing). */
  private val SilenceFrameBytes = 32
  private val SilenceMinSpaces = 7

  /** mm5_silence_trim — voice-activity trimming for the AUDIO modality
    * (the standard first pass of every speech-data pipeline: drop
    * low-energy frames, keep speech segments): the first query to USE
    * mm1's modality routing — only audio-routed assets are scanned. Each
    * payload splits into fixed 32-byte frames; frames below the activity
    * threshold mark silent; consecutive active frames group into speech
    * SEGMENTS via the gaps-and-islands rank trick (ev12's shape:
    * grp = frame_idx − row_number within asset). Emits per asset: frame
    * count, silent count, segment count, longest segment. Fully integer.
    *
    * Scale shape: ONE char pass per payload (posexplode + (asset, frame)
    * hash agg — the per-frame `substring(text, wi·32+1, 32)` spelling
    * would re-seek from the string start per frame, the r12 O(len²)
    * class); the islands window partitions by asset_id (corpus-grained
    * keys, never small-cardinality). */
  def mm5SilenceTrim(s: SparkSession, dir: String): DataFrame = {
    val frames = t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 1 && length(col("text")) >= SilenceFrameBytes)
      .withColumn("nf", (length(col("text")) / SilenceFrameBytes).cast(IntegerType))
      .select(col("doc_id").as("asset_id"), col("nf"),
        posexplode(split(col("text"), "")).as(Seq("i", "c")))
      .filter(col("c") =!= "" && col("i") < col("nf") * SilenceFrameBytes)
      .groupBy(col("asset_id"), expr(s"i div $SilenceFrameBytes").cast(IntegerType).as("wi"))
      .agg(sum(when(col("c") === " ", 1L).otherwise(0L)).as("n_spaces"))
      .withColumn("silent", col("n_spaces") >= SilenceMinSpaces)
    val wNS = org.apache.spark.sql.expressions.Window
      .partitionBy("asset_id").orderBy("wi")
    val segs = frames.filter(!col("silent"))
      .withColumn("grp", col("wi") - row_number().over(wNS))
      .groupBy("asset_id", "grp").agg(count(lit(1)).as("seg_len"))
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_segments"), max("seg_len").as("longest_seg"))
    frames.groupBy("asset_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("silent"), 1L).otherwise(0L)).as("n_silent"))
      .join(segs, Seq("asset_id"), "left")
      .select(col("asset_id"),
        col("n_frames"), col("n_silent"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_seg"), lit(0L)).as("longest_seg"))
      .orderBy("asset_id")
  }

  val mm5SilenceTrimSql: String =
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id, text, CAST(len(text) // $SilenceFrameBytes AS INT) AS nf
       |  FROM documents WHERE doc_id % 3 = 1 AND len(text) >= $SilenceFrameBytes),
       |ch AS (
       |  SELECT asset_id, nf, unnest(string_split(text, '')) AS c,
       |    generate_subscripts(string_split(text, ''), 1) - 1 AS i FROM a),
       |w AS (
       |  SELECT asset_id, CAST(i // $SilenceFrameBytes AS INT) AS wi,
       |    SUM(CASE WHEN c = ' ' THEN 1 ELSE 0 END) AS n_spaces
       |  FROM ch WHERE i < nf * $SilenceFrameBytes GROUP BY 1, 2),
       |st AS (SELECT asset_id, wi, (n_spaces >= $SilenceMinSpaces) AS silent FROM w),
       |ns AS (SELECT asset_id, wi,
       |  wi - ROW_NUMBER() OVER (PARTITION BY asset_id ORDER BY wi) AS grp
       |  FROM st WHERE NOT silent),
       |seg AS (SELECT asset_id, grp, COUNT(*) AS seg_len FROM ns GROUP BY 1, 2),
       |pseg AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       |  CAST(MAX(seg_len) AS BIGINT) AS longest_seg FROM seg GROUP BY asset_id),
       |pa AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
       |  CAST(SUM(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT) AS n_silent
       |  FROM st GROUP BY asset_id)
       |SELECT pa.asset_id, n_frames, n_silent,
       |  COALESCE(n_segments, 0) AS n_segments, COALESCE(longest_seg, 0) AS longest_seg
       |FROM pa LEFT JOIN pseg USING (asset_id) ORDER BY asset_id""".stripMargin

  private val Mm6TopK = 5
  private val Mm6MaxAsset = 30L

  /** mm6_crossmodal_link — text→asset retrieval joining the modality
    * families to the ANN stack (the CLIP-retrieval shape with the schema's
    * own vectors): each IMAGE asset associates to an embedding
    * deterministically — payload fingerprint mod index size, the stand-in
    * for a stored CLIP embedding id (a real pipeline persists the real
    * vector; the association mechanics, not the encoder, are the operator)
    * — and probes ss2's IVF geometry for its nearest text chunks. The
    * probe RIDES THE PERSISTED ss2b INDEX ([[SimilarityQueries
    * .ensureIvfIndex]]): centroids re-enter as a plan literal, probed-cell
    * ids land as a partition-pruning IN filter on the persisted `cells`
    * artifact, and the only raw-embeddings access is the ≤10-row
    * pushdown-filtered query-vector join. mm1–mm5 never touched
    * `embeddings`; this is the bridge.
    *
    * Scale shape: query side is asset-bounded (10 fingerprint rows + a
    * broadcast probe join); corpus side scans only ~n_probe·√N rows inside
    * probed cells of the persisted index — same serving cost as ss2b,
    * independent of everything outside the probed cells. Recall vs brute
    * force is audited in R13QueriesSpec (the ss5-audits-ss2 convention). */
  def mm6CrossmodalLink(s: SparkSession, dir: String): DataFrame = {
    val home = SimilarityQueries.ensureIvfIndex(s, dir)
    val nEmb = graft.Tables.rowCount(s, dir, "embeddings")
    val qa = Multimodal.documentsAsAssets(t(s, dir, "documents"))
      .filter(col("modality") === "image" && col("asset_id").cast(LongType) < Mm6MaxAsset)
      .select(col("asset_id").cast(LongType).as("asset_id"),
        pmod(detHash(col("content").cast(StringType)), lit(nEmb)).as("assoc_id"))
    val emb = SimilarityQueries.withNorm(t(s, dir, "embeddings"))
    val q = qa.join(emb.select(col("vec_id").as("assoc_id"),
        col("embedding").as("qv"), col("norm").as("qn")), Seq("assoc_id"))
    val idx = graft.operators.Similarity.centroidIndex(
      graft.operators.PersistedIndex.artifactFrame(s, home, "centroids"), "vec_id", "embedding")
    import SimilarityQueries.{cosE6, dot}
    val probeArr = slice(array_sort(transform(idx, c => struct(
        (-cosE6(dot(c.getField("cv"), col("qv")), c.getField("cn"), col("qn"))).as("neg_cos"),
        c.getField("cent_id").as("cent_id")))), 1, 2)
    val probes = q.withColumn("pc", explode(probeArr))
      .select(col("asset_id"), col("assoc_id"), col("qv"), col("qn"),
        col("pc.cent_id").as("cell"))
    // ≤ 2·n_assets cell ids (bounded collect) → plan-time partition pruning
    val probedCells = q.select(explode(probeArr).as("pc"))
      .select(col("pc.cent_id")).distinct().collect().map(_.getLong(0)).sorted
    val cells = graft.operators.PersistedIndex.artifactFrame(s, home, "cells")
      .where(col("cell").isin(probedCells.map(java.lang.Long.valueOf): _*))
    val scored = cells.withColumn("cell", col("cell").cast(LongType))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("assoc_id"))
      .withColumn("cos_e6", cosE6(dot(col("qv"), col("embedding")), col("qn"), col("norm")))
      .select("asset_id", "vec_id", "cos_e6")
    graft.operators.TopK.smallestPerGroup(scored, Seq("asset_id"), Mm6TopK,
        -col("cos_e6"), col("vec_id"), keyName = "neg_cos", idName = "vec_id")
      .select(col("asset_id"), col("rank"), col("vec_id"), (-col("neg_cos")).as("cos_e6"))
      .orderBy("asset_id", "rank")
  }

  val mm6CrossmodalLinkSql: String = {
    import SimilarityQueries.{cosE6Sql, dotSql, pairCentSql, withNormDuck}
    s"""WITH emb AS ($withNormDuck),
       |$pairCentSql,
       |assign AS (
       |  SELECT vec_id, embedding, norm, cell FROM (
       |    SELECT e.vec_id, e.embedding, e.norm, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "e.embedding"), "c.cn", "e.norm")} DESC, c.cent_id) AS ark
       |    FROM emb e CROSS JOIN cent c) t WHERE ark = 1),
       |nq AS (SELECT COUNT(*) AS n FROM embeddings),
       |qa AS (
       |  SELECT doc_id AS asset_id, ${detHashSql("text")} % (SELECT n FROM nq) AS assoc_id
       |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < $Mm6MaxAsset),
       |q AS (SELECT qa.asset_id, qa.assoc_id, e.embedding AS qv, e.norm AS qn
       |  FROM qa JOIN emb e ON e.vec_id = qa.assoc_id),
       |probes AS (
       |  SELECT asset_id, assoc_id, qv, qn, cell FROM (
       |    SELECT q.asset_id, q.assoc_id, q.qv, q.qn, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.asset_id
       |        ORDER BY ${cosE6Sql(dotSql("c.cv", "q.qv"), "c.cn", "q.qn")} DESC, c.cent_id) AS prk
       |    FROM q CROSS JOIN cent c) t WHERE prk <= 2),
       |scored AS (
       |  SELECT p.asset_id, a.vec_id,
       |    ${cosE6Sql(dotSql("p.qv", "a.embedding"), "p.qn", "a.norm")} AS cos_e6
       |  FROM assign a JOIN probes p USING (cell) WHERE a.vec_id <> p.assoc_id),
       |ranked AS (
       |  SELECT asset_id, vec_id, cos_e6,
       |    ROW_NUMBER() OVER (PARTITION BY asset_id ORDER BY cos_e6 DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT asset_id, rank, vec_id, cos_e6 FROM ranked WHERE rank <= $Mm6TopK
       |ORDER BY asset_id, rank""".stripMargin
  }

  /** Build-if-absent the persisted pHash index: base-asset signatures and
    * their already-adjudicated base-base candidate/near counts behind the
    * id-range watermark (the dd18 recipe applied to the perceptual-hash
    * family — asset stores checkpoint exactly this between crawls). */
  private def phashFp(dir: String): String =
    // the "p3" suffix versions the ARTIFACT LAYOUT (v3: `rows` only — the
    // r19 v2 layout also persisted the full banded candidate pair set,
    // ~N²/65536 rows, which exhausted disk at sf100; VERDICT r19 #1) — a
    // layout change must never read a prior generation's homes
    graft.operators.PersistedIndex.tableFingerprint(dir, "documents") + "p3"

  /** v3 artifact layout: `rows` (asset_id, phash64, n_cand, n_near) — the
    * served answer itself, adjudicated at build/fold time via the LINEAR
    * [[phashCounts]] — plus `stats`. No pair set is persisted: dead
    * contributions re-derive at serve time from the persisted SIGNATURES
    * (an O(window) broadcast against one map-side banded scan of the
    * store — the same scan the fresh leg already pays), so the artifact
    * stays O(corpus) at every scale. */
  private[queries] def ensurePhashIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    import graft.operators.PersistedIndex
    PersistedIndex.ensure("phash_index", dir, phashFp(dir)) { tmp =>
      val split = PersistedIndex.idWatermark(t(s, dir, "documents"), "doc_id")
      val sigs = phashSigs(t(s, dir, "documents").filter(col("doc_id") <= split))
        .localCheckpoint(true)
      PersistedIndex.writeArtifacts(
        () => phashCounts(sigs)
          .write.mode("overwrite").parquet(tmp.resolve("rows").toString),
        () => PersistedIndex.splitStats(s, split)
          .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
    }
  }

  /** mm7_phash_delta — the ASSET-INGEST near-dup gate served from the
    * persisted pHash index: base signatures and base-base counts come from
    * the artifact (never recomputed — the DCT is the expensive step), only
    * the DELTA (doc_id past the watermark, pushed range predicate) is
    * hashed, and its banded pairs against base∪delta merge into the
    * persisted per-asset counts by exact Long addition (the three pair
    * classes — base×base, delta-touching, delta×delta — are disjoint).
    * Segmentation is invisible: the result is bit-equal to mm4's full
    * re-pair, so the oracle IS mm4's SQL and compaction is answer-safe —
    * the fifth face of the incremental family. */
  /** mm8_tombstone_phash — tombstone/UPDATE-aware asset dedup, ir14's CDC
    * semantics on the perceptual-hash family
    * ([[graft.operators.CdcRules]]): deleted assets leave the signature
    * store via an id anti-join and their pair contributions are
    * SUBTRACTED (their signatures are in the artifact, so the
    * dead-touching pair set re-derives from persisted sigs alone — no
    * payload is re-hashed); updated assets (payload re-crawled with token
    * order reversed) are tombstone + re-hash; appends are mm7's delta. Pair classes are
    * disjoint ordered sets, so per-asset candidate/near counts merge by
    * exact Long sums: base − dead-touching + fresh-touching ≡ mm4's full
    * re-pair over the post-change corpus (the oracle). Only updated +
    * appended payloads meet the DCT at serve time. */
  /** The shared pHash SERVING KERNEL over a persisted signature/count
    * snapshot: the `dead` id frame drops signatures and its
    * pair-contributions re-derive from PERSISTED sigs alone (no payload
    * re-hash) and SUBTRACT; the `fresh` (doc_id, text) frame is the ONLY
    * payload DCT-hashed, its banded pairs ADD. Pair classes are disjoint
    * ordered sets, so per-asset counts merge by exact Long sums. mm7
    * passes (∅, appends); mm8 the [[graft.operators.CdcRules]] change
    * set; the expunged serve (∅, ∅) against a CDC-folded generation. */
  /** The incremental kernel shared by [[phashServe]] and
    * [[foldPhashArtifacts]] — returns the post-change answer rows
    * (unsorted). The 100 TB shape (v3 + the r22 representative legs): the
    * persisted store pairs against the O(window) dead and fresh sides as
    * ONE banded representative per DISTINCT live signature (multiplicity-
    * weighted — identical-signature clusters cost one row per cluster,
    * not O(window·c)); no persisted pair set (the r19 pairs artifact was
    * ~N²/65536 rows and exhausted disk at sf100), and only the O(window)
    * fresh payload meets the DCT. Dead-touching pair contributions
    * re-derive EXACTLY from persisted signatures, each pair emitted once
    * from its minimal shared band, bit_count-adjudicated on the spot —
    * bit-identical to the v2 persisted `near` flags it replaces (dead×dead
    * pairs are not derived at all: their counts only ever landed on dead
    * assets, which leave the store). Statically-empty dead/fresh
    * frames erase every delta leg (PropagateEmptyRelation + the pinDerived
    * substitution), so a post-fold serve is a pure `rows` artifact scan. */
  /** @param hinted serve paths pass true (the fresh side is a bounded
    *   crawl window; forcing the broadcast keeps the store scan map-side).
    *   The compaction/maintenance folds pass FALSE: their fresh side is a
    *   corpus decile banded 4x, and a forced broadcast hint bypasses
    *   autoBroadcastJoinThreshold — at scale that is a driver OOM, not a
    *   plan improvement; the planner/AQE picks the join there (ADVICE
    *   r18). */
  private[queries] def phashDelta(s: SparkSession, home: java.nio.file.Path,
      deadIds: DataFrame, fresh: DataFrame,
      hinted: Boolean = true): DataFrame = {
    import graft.operators.{CdcRules, PersistedIndex}
    def hint(df: DataFrame): DataFrame = if (hinted) broadcast(df) else df
    val rows0 = PersistedIndex.artifactFrame(s, home, "rows")
    val dead = CdcRules.pinDelta(deadIds.select(col("asset_id")))
    val freshSigs = CdcRules.pinDerived(s, fresh, phashSigs(fresh))
    // dead-touching pair contributions re-derive from PERSISTED signatures
    // (v3 — no pair artifact): the dead window's signatures come off the
    // store by a broadcast semi-join, band as a projection, and pair
    // against the live store. A dead asset's sub equals its full persisted
    // count, so an updated asset nets to its add side.
    val deadRows = rows0.join(broadcast(dead), Seq("asset_id"), "left_semi")
      .select("asset_id", "phash64")
    val liveRows = rows0.join(broadcast(dead), Seq("asset_id"), "left_anti")
    // r22 (VERDICT r21 #1, the serve-side sibling of phashCounts' r21
    // representative fix): the STORE side of every window pair leg joins
    // ONE representative per DISTINCT live signature, weighted by its
    // multiplicity `__c` — the asset-keyed spelling enumerated c rows per
    // window row matching a c-identical store cluster (O(window·c); a 5k
    // window against a 100k-identical web cluster is ~5·10⁸ join rows,
    // R22DegenerateServeSpec). Pair existence and Hamming adjudication
    // are functions of the SIGNATURE alone, so: a live asset's window
    // count = its signature's count (joined back by phash64), and a
    // window asset's store count = Σ multiplicity over matched distinct
    // signatures. The live/dead/fresh id universes are disjoint (dead
    // left the store, fresh is past the watermark), so no identity filter
    // is needed on the cross legs: an equal-signature window partner
    // collides on every band and emits once from band 0 — the closed-form
    // equal-hash terms of the build path are unnecessary here.
    val liveSigs = liveRows.groupBy("phash64").agg(count(lit(1)).as("__c"))
    val bRep = bandedPhash(
        liveSigs.select(col("phash64").as("asset_id"), col("phash64")))
      .select(col("phash64").as("sa"), col("band"), col("key"))
    // (sa, id_b, sb, near) pairs between the distinct live signatures and
    // a window-sized banded frame, emitted once from the minimal shared
    // band — the window side broadcasts on the serve paths, so the store
    // side is only ever scanned map-side (plus the one distinct-signature
    // aggregation above, a 16-byte-per-row partial-agg shuffle).
    def repCross(bWin: DataFrame): DataFrame =
      bRep.join(hint(bWin.select(col("asset_id").as("id_b"),
          col("phash64").as("sb"), col("band"), col("key"))), Seq("band", "key"))
        .filter(col("band") === minCommonBand(col("sa").bitwiseXOR(col("sb"))))
        .select(col("sa"), col("id_b"), col("sb"),
          (expr(s"bit_count(sa ^ sb)") <= MaxHamming).as("near"))
    val subSig = repCross(bandedPhash(deadRows))
      .groupBy(col("sa").as("phash64"))
      .agg(count(lit(1)).as("ncx"),
        sum(when(col("near"), 1L).otherwise(0L)).as("nnx"))
    val bF = bandedPhash(freshSigs)
    val crossFresh = repCross(bF)
    val addSig = crossFresh.groupBy(col("sa").as("phash64"))
      .agg(count(lit(1)).as("ncf"),
        sum(when(col("near"), 1L).otherwise(0L)).as("nnf"))
    // fresh-side counts: live partners weighted by the matched signature's
    // multiplicity (the pair table is tiny — the weight attaches AFTER the
    // banded join, never to the banded frames), plus the fresh×fresh pairs
    // (window-bounded on BOTH sides — the asset-keyed spelling is exact
    // and O(window²/2⁶⁴·bands) there).
    val freshFromLive = crossFresh
      .join(liveSigs.select(col("phash64").as("sa"), col("__c")), Seq("sa"))
      .groupBy(col("id_b").as("asset_id"))
      .agg(sum(col("__c")).as("ncf"),
        sum(when(col("near"), col("__c")).otherwise(0L)).as("nnf"))
    val ff = phashPairCounts(withNear(phashPairsOf(bF, bF, hinted)))
    val addFresh = freshFromLive
      .unionByName(ff.select(col("asset_id"), col("n_cand").as("ncf"),
        col("n_near").as("nnf")))
      .groupBy("asset_id").agg(sum("ncf").as("ncf"), sum("nnf").as("nnf"))
    val outBase = liveRows
      .join(hint(subSig), Seq("phash64"), "left")
      .join(hint(addSig), Seq("phash64"), "left")
      .select(col("asset_id"), col("phash64"),
        (col("n_cand") - coalesce(col("ncx"), lit(0L)) +
          coalesce(col("ncf"), lit(0L))).as("n_cand"),
        (col("n_near") - coalesce(col("nnx"), lit(0L)) +
          coalesce(col("nnf"), lit(0L))).as("n_near"))
    val outFresh = freshSigs
      .join(hint(addFresh), Seq("asset_id"), "left")
      .select(col("asset_id"), col("phash64"),
        coalesce(col("ncf"), lit(0L)).as("n_cand"),
        coalesce(col("nnf"), lit(0L)).as("n_near"))
    outBase.unionByName(outFresh)
  }

  private def phashServe(s: SparkSession, home: java.nio.file.Path,
      deadIds: DataFrame, fresh: DataFrame): DataFrame =
    phashDelta(s, home, deadIds, fresh).orderBy("asset_id")

  /** Banded SELF-pairing of a window-sized frame (both ordered
    * orientations via the self-join; r22 dropped the cross-universe
    * `both` mode — cross legs go through [[phashDelta]]'s representative
    * pairing). Multi-band matches emit ONCE, from the pair's minimal
    * shared band — replacing the r19 `.distinct()`, which was a full
    * shuffle of the raw pair stream. */
  private def phashPairsOf(left: DataFrame, right: DataFrame,
      hinted: Boolean = true): DataFrame = {
    def hint(df: DataFrame): DataFrame = if (hinted) broadcast(df) else df
    def a(b: DataFrame) = b.select(col("asset_id").as("id_a"), col("phash64").as("sa"),
      col("band"), col("key"))
    def bb(b: DataFrame) = b.select(col("asset_id").as("id_b"), col("phash64").as("sb"),
      col("band"), col("key"))
    a(left).join(hint(bb(right)), Seq("band", "key"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("band") === minCommonBand(col("sa").bitwiseXOR(col("sb"))))
      .select("id_a", "id_b", "sa", "sb")
  }

  def mm8TombstonePhash(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, PhashMaintenance, Tombstones)

  /** The pHash family's artifact rewrite with the change set passed in
    * (`deadIds` already as asset_id): dead signatures leave, their
    * pair-contributions are subtracted out of the persisted counts
    * (re-derived from persisted sigs — no payload re-hash), fresh rows
    * fold in with their pair classes. With no dead set the add classes
    * are exactly mm7's three disjoint pair classes, so an append fold is
    * answer-invariant. */
  private[graft] def foldPhashArtifacts(s: SparkSession, tmp: java.nio.file.Path,
      cur: java.nio.file.Path, deadIds: DataFrame, fresh: DataFrame, split: Long): Unit = {
    import graft.operators.PersistedIndex
    PersistedIndex.writeArtifacts(
      () => phashDelta(s, cur, deadIds, fresh, hinted = false)
        .write.mode("overwrite").parquet(tmp.resolve("rows").toString),
      () => PersistedIndex.splitStats(s, split)
        .write.mode("overwrite").parquet(tmp.resolve("stats").toString))
  }

  /** The pHash family's hooks into the streaming maintenance loop: probe
    * = the mm10 feed face's per-asset near-dup counts, fold =
    * [[foldPhashArtifacts]]. The feed id is doc_id; the index id is
    * asset_id (same value, the mm8 mapping). */
  private[graft] object PhashMaintenance extends IndexMaintenance.DocFamily {
    val name = "phash"
    val kind = "phash_index"
    def fingerprint(dir: String): String = phashFp(dir)
    private def asAsset(dead: DataFrame): DataFrame =
      dead.select(col("doc_id").cast(LongType).as("asset_id"))
    def ensureBase(s: SparkSession, dir: String): java.nio.file.Path =
      ensurePhashIndex(s, dir)
    def baseCount(s: SparkSession, base: java.nio.file.Path): Long =
      graft.operators.PersistedIndex.artifactRows(s, base, "rows")
    def foldInto(s: SparkSession, tmp: java.nio.file.Path, base: java.nio.file.Path,
        dead: DataFrame, fresh: DataFrame, split: Long): Unit =
      foldPhashArtifacts(s, tmp, base, asAsset(dead), fresh, split)
    def serve(s: SparkSession, dir: String, base: java.nio.file.Path,
        dead: DataFrame, fresh: DataFrame): DataFrame =
      phashServe(s, base, asAsset(dead), fresh)
  }

  /** mm9_expunged_phash — the post-compaction face of mm8: fold the
    * change set, then serve counts straight from the expunged artifacts
    * (empty tombstone/fresh frames; shares mm8's oracle). */
  def mm9ExpungedPhash(s: SparkSession, dir: String): DataFrame = {
    IndexMaintenance.compactCdc(s, dir, PhashMaintenance)
    mm8TombstonePhash(s, dir)
  }

  /** mm10_feed_phash — the feed-table face of mm8 (the ir15 contract on
    * the perceptual-hash family): [[phashServe]] consumes only the
    * [[graft.operators.CdcRules.feedFrames]] split of an explicit
    * (doc_id, op, payload) table; reversedTokens 'u' payloads are exactly
    * mm8's update transform, so mm10 ≡ mm8 and the oracle is shared. */
  def mm10FeedPhash(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, PhashMaintenance, Feed)

  /** mm11_sized_phash — mm10 at a CRAWL-SIZED batch (VERDICT r16 #2): the
    * feed generator takes the [[graft.operators.CdcRules.sizedFeed]]
    * batch bound, so the DCT hashing — the family's dominant cost, 28.3 s
    * for mm7's fixed-fraction delta at sf10 — runs over O(window) fresh
    * rows no matter the corpus size. At the correctness SFs the window
    * covers the whole corpus and mm11 ≡ mm8/mm10. */
  def mm11SizedPhash(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, PhashMaintenance, SizedFeed)

  /** mm8's replay over the WINDOWED post-change corpus. */
  val mm11SizedPhashSql: String = {
    val corpus = "WITH " + graft.operators.CdcRules.sqlSizedCorpusCtes("mm11corpus",
      graft.operators.CdcRules.sqlReversedTokens("d.text")) + ",\n"
    corpus + mm4PhashNeardupSql
      .replaceFirst("^WITH ", "")
      .replace("FROM documents WHERE", "FROM mm11corpus WHERE")
  }

  /** mm4's SQL replayed over the POST-CHANGE corpus (the ir14/dd20/kg7
    * oracle convention). */
  val mm8TombstonePhashSql: String = {
    val corpus = "WITH " + graft.operators.CdcRules.sqlCorpusCtes("mm8corpus",
      graft.operators.CdcRules.sqlReversedTokens("d.text")) + ",\n"
    corpus + mm4PhashNeardupSql
      .replaceFirst("^WITH ", "")
      .replace("FROM documents WHERE", "FROM mm8corpus WHERE")
  }

  def mm7PhashDelta(s: SparkSession, dir: String): DataFrame =
    IndexMaintenance.serve(s, dir, PhashMaintenance, Appends)

  val queries: Map[String, QueryFn] = Map(
    "mm7_phash_delta" -> (mm7PhashDelta _),
    "mm8_tombstone_phash" -> (mm8TombstonePhash _),
    "mm9_expunged_phash" -> (mm9ExpungedPhash _),
    "mm10_feed_phash" -> (mm10FeedPhash _),
    "mm11_sized_phash" -> (mm11SizedPhash _),
    "mm6_crossmodal_link" -> (mm6CrossmodalLink _),
    "mm5_silence_trim" -> (mm5SilenceTrim _),
    "mm4_phash_neardup" -> (mm4PhashNeardup _),
    "mm3_frame_dedup" -> (mm3FrameDedup _),
    "mm1_asset_bytes" -> (mm1AssetBytes _),
    "mm2_frame_sample" -> (mm2FrameSample _))

  val oracles: Map[String, String] = Map(
    // segment merge is invisible to the answer: mm7 ≡ mm4
    "mm7_phash_delta" -> mm4PhashNeardupSql,
    // tombstone subtraction is exact: mm8 ≡ mm4 over the post-change corpus
    "mm8_tombstone_phash" -> mm8TombstonePhashSql,
    // expunge-fold is answer-invariant by construction: mm9 ≡ mm8
    "mm9_expunged_phash" -> mm8TombstonePhashSql,
    // the feed generator replays the same rules: mm10 ≡ mm8
    "mm10_feed_phash" -> mm8TombstonePhashSql,
    "mm11_sized_phash" -> mm11SizedPhashSql,
    "mm6_crossmodal_link" -> mm6CrossmodalLinkSql,
    "mm5_silence_trim" -> mm5SilenceTrimSql,
    "mm4_phash_neardup" -> mm4PhashNeardupSql,
    "mm3_frame_dedup" -> mm3FrameDedupSql,
    "mm1_asset_bytes" -> mm1AssetBytesSql,
    "mm2_frame_sample" -> mm2FrameSampleSql)
}
