package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, min}

/** Shared machinery for PERSISTED serving indexes (ss2b's IVF cells, ir6b's
  * posting lists): a build-if-absent protocol under a corpus-fingerprinted
  * staging directory with crash-safe atomic publication.
  *
  * The serving contract: an index build is an amortized MAINTENANCE job; the
  * query path reads ONLY the published artifacts. The identity of an index is
  * therefore the identity of its SOURCE — `home` keys on (sanitized source
  * dir, caller-supplied fingerprint), and [[tableFingerprint]] supplies a
  * content-sensitive component (total bytes + newest mtime of the source
  * parquet) so regenerating testdata IN PLACE invalidates the index even when
  * the row count happens to match (ADVICE r12: a (dir, rowcount) key silently
  * reused a stale index across an in-place refresh).
  *
  * Crash safety (the PaperXmlGen convention): builders write into a
  * `.build_<home>_<pid>_<nanos>` sibling and publish with one atomic rename —
  * readers either see a COMPLETE index (`_INDEX_COMPLETE` marker inside) or
  * none. Losing the publish race to a concurrent COMPLETE winner just drops
  * the duplicate staging copy. Crashed builders leave orphaned `.build_*`
  * dirs; [[sweepStale]] removes any whose recorded pid is no longer alive
  * before each new build, so staging space is bounded by live builders.
  */
object PersistedIndex {

  private def sanitize(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9.]+", "_").stripPrefix("_")

  /** Content fingerprint of `dir/table.parquet` without scanning data: a
    * per-file (relative name, size) vector hash + total bytes + newest
    * mtime + a 4 KiB content sample of the lexicographically-first file
    * (hex-packed). Any in-place rewrite bumps the mtime; appends and
    * row-count-preserving regens change the size vector or mtime; a
    * same-millisecond regen that preserves every file size flips the
    * content sample when the sampled prefix changes (ADVICE r13). Residual
    * blind spot (ADVICE r14): the sample covers only the FIRST 4 KiB of
    * the lexicographically-first file — a same-millisecond size-preserving
    * rewrite that changes only bytes past that prefix, or only a
    * non-sampled file, still reuses the old index; closing that would mean
    * checksumming every byte on every probe. Cheap (one stat per file +
    * one bounded read), stable across processes.
    *
    * Single-host assumption (ADVICE r13): [[sweepStale]]'s liveness check
    * sees only LOCAL pids, so the `staging/` tree must not be shared
    * between hosts — on a cluster, each node keeps its own staging dir (or
    * the build moves to a real job scheduler with distributed locks).
    *
    * Scope note: this fingerprint is a SNAPSHOT identity — any change to
    * the source dir (including a pure file append) re-keys every home
    * over it, forcing a full rebuild. That is correct for the shipped
    * corpora (immutable snapshot dirs; the incremental faces' "delta" is
    * the id range above the recorded watermark WITHIN one snapshot, and
    * real change feeds arrive through the CDC faces, not through file
    * mutation). A deployment whose base parquet genuinely grows in place
    * would fingerprint the per-file manifest instead — immutable base
    * files keep their identity, and only the new files join the delta —
    * which is a manifest-layout change, not a protocol change: build,
    * publish, resolution and sweeping all key on the string. */
  def tableFingerprint(dir: String, table: String): String = {
    val p = Paths.get(dir, s"$table.parquet")
    if (!Files.exists(p)) "absent"
    else {
      var vec = 0L; var bytes = 0L; var mtime = 0L
      var first: Path = null
      val it = Files.walk(p)
      try it.forEach { f =>
        if (Files.isRegularFile(f)) {
          val sz = Files.size(f)
          bytes += sz
          mtime = math.max(mtime, Files.getLastModifiedTime(f).toMillis)
          // FNV-1a-style fold of (relative name, size) — order-independent
          // via commutative addition so walk order can't change the key
          var h = 0xcbf29ce484222325L
          val name = p.relativize(f).toString
          var i = 0
          while (i < name.length) { h ^= name.charAt(i); h *= 0x100000001b3L; i += 1 }
          h ^= sz; h *= 0x100000001b3L
          vec += h
          if (first == null || f.toString < first.toString) first = f
        }
      } finally it.close()
      var sample = 0xcbf29ce484222325L
      if (first != null) {
        val in = Files.newInputStream(first)
        try {
          val buf = new Array[Byte](4096)
          var read = 0; var off = 0
          while (off < buf.length && { read = in.read(buf, off, buf.length - off); read > 0 })
            off += read
          // FNV-1a over the sampled prefix — NOT a lane-XOR fold, which
          // cancels whenever a byte value repeats an even number of times
          // at the same lane (a constant-fill 256-byte file XORed to 0
          // regardless of the fill value — caught by PersistedIndexSpec)
          var i = 0
          while (i < off) { sample ^= (buf(i) & 0xffL); sample *= 0x100000001b3L; i += 1 }
        } finally in.close()
      }
      java.lang.Long.toHexString(vec) + "x" +
        java.lang.Long.toHexString(bytes) + "x" +
        java.lang.Long.toHexString(mtime) + "x" +
        java.lang.Long.toHexString(sample)
    }
  }

  /** Deterministic on-disk home for an index of `kind` over source `dir`. */
  def home(kind: String, dir: String, fingerprint: String): Path =
    Paths.get("staging", kind, sanitize(dir) + "_" + fingerprint)

  def isBuilt(home: Path): Boolean =
    Files.exists(home.resolve("_INDEX_COMPLETE"))

  /** Generation-aware home resolution: a COMPACTION (see the postings
    * family) publishes the same logical index under `<fp>_c<gen>` where
    * `gen` is the folded-in watermark; the current home is the highest
    * COMPLETE generation, falling back to the plain fingerprint home.
    * Probes that resolve through here pick up a compacted snapshot
    * transparently — answer-invariant by the segment-merge contract, the
    * in-flight delta just shrinks to the rows above `gen`. */
  def currentHome(kind: String, dir: String, fingerprint: String): Path = {
    val base = home(kind, dir, fingerprint)
    val parent = base.getParent
    if (!Files.exists(parent)) return base
    val prefix = base.getFileName.toString + "_c"
    var best: Path = null
    var bestGen = -1L
    val it = Files.list(parent)
    try it.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith(prefix) && isBuilt(p)) {
        val gen =
          try n.substring(prefix.length).toLong
          catch { case _: NumberFormatException => -1L }
        if (gen > bestGen) { bestGen = gen; best = p }
      }
    } finally it.close()
    if (best != null) best else base
  }

  /** The full lifecycle for a source-backed index family: resolve the
    * current (possibly compacted) home, build it if absent, and after a
    * fresh publish sweep SUPERSEDED complete homes of the same
    * (kind, source dir) — prior fingerprints left behind by in-place
    * source regens, prior generations after a compaction (VERDICT r14 #3:
    * published homes orphaned by a fingerprint change accumulated
    * forever). The already-built fast path starts no Spark job and does
    * no build or sweep; it still lists the homes' parent once, in
    * [[currentHome]], to find the highest complete generation. */
  def ensure(kind: String, dir: String, fingerprint: String)(build: Path => Unit): Path = {
    val h = currentHome(kind, dir, fingerprint)
    if (!isBuilt(h)) {
      buildIfAbsent(h, dir)(build)
      sweepSuperseded(h, dir)
    }
    h
  }

  /** Grace period between a home being superseded and its physical
    * deletion: deleting immediately after the new publish would yank
    * files out from under a SECOND process mid-read of the old generation
    * (FileNotFoundException halfway through its scan). Ten minutes bounds
    * any reasonable probe; a reader that resolved a home gets at least
    * this long to finish with it. Overridable via -Dgraft.sweep.grace.ms
    * ONLY so the cross-process maintenance harness
    * (scripts/crossproc_maintenance.sh) can compress real deletions into
    * a minutes-long run while still exceeding its probes' duration;
    * production keeps the default. See [[sweepGraceMsFrom]]. */
  val SweepGraceMs: Long = sweepGraceMsFrom(sys.props.get("graft.sweep.grace.ms"))

  /** The [[SweepGraceMs]] a knob value selects: an integer is floored at
    * 10 s — a launch misconfigured with a tiny/zero value must not
    * silently disable the read-grace window that keeps sweeps from
    * yanking files out from under a concurrent reader (the harness's
    * 30 s setting clears the floor); an absent or malformed value selects
    * the ten-minute default. Never throws — this runs in the object's
    * initializer, where an exception would make every later
    * `PersistedIndex` call in the JVM fail. */
  private[graft] def sweepGraceMsFrom(v: Option[String]): Long =
    v.flatMap(_.trim.toLongOption).map(math.max(_, 10000L))
      .getOrElse(10L * 60L * 1000L)

  /** Remove COMPLETE homes under `current`'s parent that serve the same
    * source as `current` but are not it: every home published through
    * [[buildIfAbsent]] with a source dir records it in a `_SOURCE` file,
    * and ONLY marker-bearing homes are matched — a sanitized-name prefix
    * fallback for marker-less homes was dropped (ADVICE r15: a sibling
    * source dir whose sanitized name extends the prefix, e.g.
    * `/data/corpus` vs `/data/corpus_v2`, was wrongly swept, and the
    * ambiguity is unresolvable because sanitized names and versioned
    * fingerprints share the `_` separator). Marker-less homes can only
    * predate the `_SOURCE` convention; they are finite and inert.
    *
    * Two-phase with a GRACE PERIOD (VERDICT r16 #7 closes the r15
    * single-writer caveat): the first sweep that sees a superseded home
    * only STAMPS it (`_SUPERSEDED` + wall-clock millis); a later sweep
    * deletes it once the stamp is at least [[SweepGraceMs]] old. A
    * concurrent reader therefore survives the publish+sweep cycle that
    * obsoleted the generation it is scanning — it had to resolve the
    * home BEFORE the new publish, and nothing deletes it for another
    * grace window. Readers never resolve a stamped home anew unless it
    * is still the best generation, in which case it is `current` and
    * never matched here. */
  def sweepSuperseded(current: Path, sourceDir: String): Unit =
    sweepSuperseded(current, sourceDir, SweepGraceMs)

  def sweepSuperseded(current: Path, sourceDir: String, graceMs: Long): Unit = {
    val parent = current.getParent
    if (parent == null || !Files.exists(parent)) return
    val now = System.currentTimeMillis()
    val it = Files.list(parent)
    try it.forEach { p =>
      val n = p.getFileName.toString
      if (n != current.getFileName.toString && !n.startsWith(".") && isBuilt(p)) {
        val src = p.resolve("_SOURCE")
        if (Files.exists(src) && Files.readString(src) == sourceDir) retire(p, now, graceMs)
      }
    } finally it.close()
  }

  /** One step of the two-phase retirement of a superseded directory: an
    * unstamped `p` gets its `_SUPERSEDED` stamp (`now`, wall-clock
    * millis); a stamped one is deleted once the stamp is at least
    * `graceMs` old. An unparsable stamp RESTARTS the window — parsing it
    * as epoch 0 would delete at once, the no-grace hazard the stamp
    * exists to prevent. Shared by [[sweepSuperseded]], [[sweepStale]],
    * the append fold (the home it folded from) and the streaming loop's
    * segment sweep. */
  private[graft] def retire(p: Path, now: Long, graceMs: Long): Unit = {
    val mark = p.resolve("_SUPERSEDED")
    if (!Files.exists(mark)) Files.writeString(mark, now.toString)
    else {
      val at =
        try Files.readString(mark).trim.toLong
        catch { case _: NumberFormatException => Files.writeString(mark, now.toString); now }
      if (now - at >= graceMs) deleteTree(p)
    }
  }

  /** Run `build` against a staging dir and atomically publish it as `home`,
    * unless a COMPLETE index is already published. The builder must treat
    * its argument as the future `home` (same relative artifact layout).
    * When `sourceDir` is non-null it is recorded in the home's `_SOURCE`
    * file so [[sweepSuperseded]] can later identify same-source homes. */
  def buildIfAbsent(home: Path)(build: Path => Unit): Unit =
    buildIfAbsent(home, null)(build)

  def buildIfAbsent(home: Path, sourceDir: String)(build: Path => Unit): Unit = {
    if (isBuilt(home)) return
    Files.createDirectories(home.getParent)
    sweepStale(home.getParent)
    val tmp = home.getParent.resolve(
      s".build_${home.getFileName}_${ProcessHandle.current().pid()}_${System.nanoTime()}")
    Files.createDirectories(tmp)
    // a build that THROWS must not leak its staging dir until this
    // process dies (VERDICT r14 #4: sweepStale spares live-pid dirs, so a
    // long-lived driver that retries failed builds would accumulate them)
    try {
      build(tmp)
      if (sourceDir != null) Files.writeString(tmp.resolve("_SOURCE"), sourceDir)
      Files.createFile(tmp.resolve("_INDEX_COMPLETE"))
    } catch { case e: Throwable => deleteTree(tmp); throw e }
    try Files.move(tmp, home, StandardCopyOption.ATOMIC_MOVE)
    catch { case e: java.nio.file.FileSystemException =>
      // lost the publish race to a COMPLETE winner — drop the staging copy.
      // Any OTHER publish failure (permissions, staging on a mount where
      // ATOMIC_MOVE is unsupported) must surface HERE, not as an opaque
      // missing-artifact read downstream (ADVICE r13): assert the winner
      // actually exists before discarding a perfectly good build.
      deleteTree(tmp)
      if (!isBuilt(home)) throw new IllegalStateException(
        s"index publish to $home failed and no complete winner exists — " +
          "not a lost race; staging and home must live on one mount with " +
          "atomic-rename support", e)
    }
  }

  /** Run a generation's independent artifact writes at the same time and
    * return once every one has finished. Each step gets a thread of its
    * own, created for this call, so it inherits the caller's Spark local
    * properties: the job group, the job description and any running SQL
    * execution id follow every job a step starts, exactly as if the
    * caller had run it. A single step runs on the caller's thread. When a
    * step throws, the call still waits for every other step — a caller
    * that cleans up on failure ([[buildIfAbsent]] deletes its staging
    * dir) never races a write still in flight — then rethrows the error
    * of the first failed step in argument order, the others attached as
    * suppressed. An interrupt of the waiting caller does not cut the wait
    * short either; it is re-asserted once every step has finished. The
    * width is the number of steps; steps that depend on each other are
    * chained inside one step. */
  def writeArtifacts(steps: (() => Unit)*): Unit =
    if (steps.length == 1) steps.head()
    else {
      val errors = new Array[Throwable](steps.length)
      val threads = steps.indices.map { i =>
        val t = new Thread(() =>
          try steps(i)() catch { case e: Throwable => errors(i) = e },
          s"graft-artifact-write-$i")
        t.setDaemon(true)
        t
      }
      threads.foreach(_.start())
      var interrupted = false
      threads.foreach { t =>
        while (t.isAlive)
          try t.join() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
      errors.filter(_ != null) match {
        case Array() =>
        case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      }
    }

  /** Remove orphaned `.build_*` staging dirs whose builder pid is dead
    * (crashed mid-build — ADVICE r12: these were never cleaned). A live
    * pid's staging dir is left alone; name format is
    * `.build_<home>_<pid>_<nanos>`, parsed from the tail so underscores in
    * the home segment never confuse the split. Also removes COMPLETE
    * homes whose recorded `_SOURCE` directory no longer exists — such a
    * home can never be probed again (its fingerprint was derived from a
    * source that is gone; spec fixtures under java.io.tmpdir used to
    * accumulate one forever per test run). */
  private[operators] def sweepStale(parent: Path): Unit = {
    if (!Files.exists(parent)) return
    val it = Files.list(parent)
    try it.forEach { p =>
      val name = p.getFileName.toString
      if (name.startsWith(".build_")) {
        val segs = name.split('_')
        val alive = (segs.length >= 3) && {
          try ProcessHandle.of(segs(segs.length - 2).toLong)
            .map[Boolean](_.isAlive).orElse(false)
          catch { case _: NumberFormatException => false }
        }
        if (!alive) deleteTree(p)
      } else if (isBuilt(p) && Files.exists(p.resolve("_SOURCE")) &&
          !Files.isDirectory(Paths.get(Files.readString(p.resolve("_SOURCE")))))
        deleteTree(p)
      else if (isBuilt(p) && Files.exists(p.resolve("_SUPERSEDED")))
        // stamped stragglers: sweepSuperseded only deletes a stamped home
        // when a LATER publish for the same source sweeps again — a family
        // that never publishes again would leave it forever. Any sibling
        // build finishes the retirement once the grace window has elapsed.
        retire(p, System.currentTimeMillis(), SweepGraceMs)
    } finally it.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      try it.forEach(f => Files.deleteIfExists(f)) finally it.close()
    }

  // ---- compaction policy ---------------------------------------------

  /** Default in-flight threshold: fold when tombstoned+fresh rows exceed
    * 10% of the serving set (the Lucene expunge-deletes trigger shape —
    * its default deletes-pct knob is the same order). E6 parts so the
    * decision is pure integer arithmetic on both engines. */
  val CompactThetaE6: Long = 100000L

  /** Compaction POLICY over a family's CDC census (the e2e8 audit row):
    * compact when the in-flight fraction — rows the serve must subtract
    * (tombstones) or re-derive (fresh) on EVERY probe — strictly exceeds
    * θ of the serving set. At exactly θ it does NOT fire (spec-pinned
    * boundary); a degenerate empty serving set never fires (nothing to
    * fold into). Pure function of the census so the decision is
    * replayable from the corpus alone (e2e9_compact_policy). */
  def shouldCompact(nBase: Long, nTombstoned: Long, nFresh: Long,
      thetaE6: Long = CompactThetaE6): Boolean = {
    val serving = nBase - nTombstoned + nFresh
    serving > 0L && (nTombstoned + nFresh) * 1000000L > thetaE6 * serving
  }

  /** The APPEND-fold policy (the raw, tombstone-free lineage —
    * IndexMaintenance.foldAppends): fold when the
    * in-flight delta strictly exceeds θ of the BASE. The denominators
    * differ on purpose: an expunge fold's benefit scales with the
    * change-set fraction of what it will SERVE ([[shouldCompact]]), while
    * an append fold's cost is rewriting the BASE artifacts and its
    * benefit is erasing per-probe delta work proportional to
    * delta/base — so delta-vs-base is the honest trip point. (It also
    * means the decile stand-in delta — ≈1/9 of the base ≈ 11.1% — trips
    * the policy, while sitting just UNDER the serving-denominator θ:
    * the shipped corpora exercise both the fold and, on the re-walk, the
    * drained no-op path.) */
  def shouldFoldAppends(nBase: Long, nDelta: Long,
      thetaE6: Long = CompactThetaE6): Boolean =
    nBase > 0L && nDelta * 1000000L > thetaE6 * nBase

  // ---- the incremental families' shared watermark convention ---------
  // Every family snapshots, folds and records its watermark through these
  // helpers, so no two families can disagree on the decile split.

  /** (min, max) of a non-empty id column: from the parquet footer
    * statistics when `df` is an unfiltered parquet table open
    * ([[graft.sources.Layout.footerLongRange]], no Spark job), else from
    * one min/max aggregate. An empty source fails loudly: a snapshot or a
    * fold over zero rows is a misconfigured source dir. */
  def idRange(df: DataFrame, idCol: String): (Long, Long) =
    graft.sources.Layout.footerLongRange(df, idCol).getOrElse {
      val r = df.agg(min(col(idCol)), max(col(idCol))).collect()(0)
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"idWatermark: source table is empty — cannot snapshot '$idCol' " +
          "(an incremental index over zero rows indicates a misconfigured source dir)")
      (r.getLong(0), r.getLong(1))
    }

  /** Snapshot watermark over an id column: the base segment is ids
    * at-or-below the last decile of the id range ([[idRange]]) — modeling
    * "the rows that arrived after the snapshot" (ir10/dd18/kg6/ss9/mm7).
    * The probe side then pushes `id > split` as a range predicate so delta
    * work is delta-proportional. */
  def idWatermark(df: DataFrame, idCol: String): Long = {
    val (lo, hi) = idRange(df, idCol)
    hi - (hi - lo) / 10L
  }

  /** The minimal one-row stats frame carrying the watermark — families
    * with richer sufficient statistics (postings' n_docs/total_dl, kg's
    * document census) widen their own stats row with `split_id` instead. */
  def splitStats(s: SparkSession, split: Long): DataFrame =
    s.range(1).select(lit(split).as("split_id"))

  /** Process-wide cache of a published home's artifact DataFrames, keyed
    * by (home/artifact, publish-marker mtime). Opening a parquet store
    * builds its InMemoryFileIndex EAGERLY — for a hive-partitioned store
    * that is a full partition-directory listing (O(bucket count) stats)
    * on EVERY probe that re-opens the store; the first sf10 ladder run
    * read a uniform ~4.5 s of listing under each positional/postings
    * probe. Homes are immutable once published, so the resolved relation
    * (the frame is lazy — only the file index is held) is reusable for
    * the session's lifetime: the listing is paid once per session per
    * store, and every later probe plans straight against the cached
    * index with its partition filters. */
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, DataFrame)]()

  /** Publish-marker stamp in NANOSECONDS: second- (or even millisecond-)
    * granularity mtimes could serve a stale frame after a same-tick
    * deleteTree + rebuild at one path (ADVICE r17 — spec fixtures do
    * exactly that); ext4/xfs carry nanosecond timestamps. */
  private def publishStamp(home: Path): Long =
    Files.getLastModifiedTime(home.resolve("_INDEX_COMPLETE"))
      .to(java.util.concurrent.TimeUnit.NANOSECONDS)

  /** Cache key: a DataFrame is bound to the SparkContext that planned it —
    * keying on the path alone would hand a frame from a STOPPED session to
    * its successor (ADVICE r17), so the context's applicationId prefixes
    * the key. A JVM runs one SparkContext at a time, so an entry of any
    * other application id belongs to a stopped context and is dropped on
    * the next insert ([[artifactFrame]]) rather than kept reachable. */
  private def appPrefix(s: SparkSession): String = s.sparkContext.applicationId + "|"

  def artifactFrame(s: SparkSession, home: Path, artifact: String): DataFrame = {
    val app = appPrefix(s)
    val key = app + home.toString + "/" + artifact
    val stamp = publishStamp(home)
    val cached = frameCache.get(key)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val df = graft.sources.Layout.readParquet(s, home.resolve(artifact).toString)
      frameCache.keySet.removeIf(k => !k.startsWith(app))
      frameCache.put(key, (stamp, df))
      df
    }
  }

  /** Keys of [[frameCache]] — for specs of its lifetime. */
  private[graft] def cachedFrameKeys: Seq[String] = {
    import scala.jdk.CollectionConverters._
    frameCache.keySet.asScala.toSeq
  }

  /** The exact row count of a home's `artifact`, from its parquet footers
    * (no Spark job). */
  def artifactRows(s: SparkSession, home: Path, artifact: String): Long =
    graft.sources.Layout.parquetRows(s, home.resolve(artifact).toString)

  /** The home's one-row `stats` artifact, decoded on the driver from its
    * footer and first row group (no Spark job; a few ms of file IO). */
  def statsRow(s: SparkSession, home: Path): org.apache.spark.sql.Row =
    graft.sources.Layout.parquetFirstRow(s, home.resolve("stats").toString)

  /** Read the persisted watermark back (the driver-side [[statsRow]]). */
  def readSplit(s: SparkSession, home: Path): Long =
    statsRow(s, home).getAs[Long]("split_id")

  /** Hash-bucket count for a store of `n` rows: ~80 rows a bucket (a
    * bucket-pruned read stays roughly constant in size as the store
    * grows), at least 16 (a small store still prunes) and at most `cap`
    * (partition discovery pays per directory). A family records the count
    * in its `stats` row as `n_buckets` ([[recordedBuckets]]). */
  def sizedBuckets(n: Long, cap: Long): Long =
    math.max(16L, math.min(cap, (n + 79L) / 80L))

  /** The bucket modulus a home was built with: its `stats` row's
    * `n_buckets`, or `legacy` — the fixed count its family wrote before
    * the column was recorded. */
  def recordedBuckets(s: SparkSession, home: Path, legacy: Long): Long = {
    val r = statsRow(s, home)
    if (r.schema.fieldNames.contains("n_buckets")) r.getAs[Long]("n_buckets")
    else legacy
  }
}
