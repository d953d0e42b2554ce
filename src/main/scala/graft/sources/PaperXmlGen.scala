package graft.sources

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.Random

/** Deterministic synthetic CERMINE-XML corpus generator — gives the S5/E1
  * file-ingest path (`PaperXml.ingest`) a benchable corpus at every scale
  * factor (VERDICT r4 item 8: the one path a catalog user runs first had a
  * golden spec but no number). The corpus is scaled off the sf dir's
  * `documents` row count (papers = docs/2), written once per size into the
  * JVM temp dir behind a completion marker, and reused by later runs.
  *
  * Content is seeded per paper index, so every run — and both engines of any
  * future oracle — sees byte-identical files. Roughly half the paragraphs
  * contain the literal "data", exercising the P1 candidate filter both ways.
  * Shape mirrors the reference fixture (title/authors/affiliation/abstract/
  * paragraphs — `dataset_ner/paper_processing.py:58-129`). */
object PaperXmlGen {

  private val words = Vector(
    "model", "corpus", "table", "index", "survey", "method", "result",
    "sample", "measure", "signal", "study", "field", "region", "window",
    "stream", "batch", "query", "plan", "join", "scan", "filter", "group",
    "order", "merge", "hash", "sort", "range", "limit", "count", "value")

  private def paragraph(rnd: Random, withData: Boolean): String = {
    val n = 20 + rnd.nextInt(21)
    val body = Seq.fill(n)(words(rnd.nextInt(words.length)))
    val all = if (withData) {
      val at = rnd.nextInt(body.length)
      body.patch(at, Seq("data"), 0)
    } else body
    all.mkString(" ")
  }

  private def paper(idx: Int): String = {
    val rnd = new Random(1000003L * idx + 17)
    val title = Seq.fill(4)(words(rnd.nextInt(words.length))).mkString(" ")
    val author = s"Author${idx} Name${rnd.nextInt(100)}"
    val nParas = 6 + rnd.nextInt(7)
    val paras = (0 until nParas)
      .map(i => paragraph(rnd, withData = (i + idx) % 2 == 0))
      .map(p => s"<p>$p</p>").mkString("\n    ")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<article>
       |  <front>
       |    <article-title>$title $idx</article-title>
       |    <contrib contrib-type="author"><string-name>$author</string-name></contrib>
       |    <aff><institution>University $idx (Dept. ${rnd.nextInt(40)})</institution></aff>
       |    <abstract>We study data in corpus $idx.</abstract>
       |  </front>
       |  <body>
       |    $paras
       |  </body>
       |</article>""".stripMargin
  }

  /** Version stamp baked into the cache directory name so ANY change to the
    * generated content invalidates shared-tmpdir corpora from earlier builds
    * (ADVICE r5: a count-only key silently reused stale files). Derived from
    * the actual bytes of paper(0) — editing the generator changes the hash
    * with no constant to remember to bump. */
  private lazy val contentVersion: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(paper(0).getBytes(StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
  }

  /** Golden oracle for the e1 ingest twins (VERDICT r6 #2): the expected
    * (paragraph_id, body_text, paper_id) rows recomputed WITHOUT Spark or
    * the DOM parser, emitted as a DuckDB VALUES relation so the driver's
    * gate can hash-compare `e1_ingest_files`/`e1_ingest_packed` instead of
    * recording them rows-only. A second, independent parse path: paragraphs
    * are pulled from the generated XML bytes with a regex extractor, ids
    * re-derived straight from their specs (paper_id = sha256 of the
    * `file://`-prefixed path; paragraph_id = sha256 of
    * `paperId || chr(1) || idx` — [[graft.functions.TextFunctions.deterministicId]])
    * via MessageDigest, the candidate filter re-applied as a plain
    * `contains("data")`. A DOM-parser regression, id-derivation change, or
    * filter drift all surface as a hash mismatch.
    *
    * Pinned to the corpus size (`nPapers`) the DRIVER's gate produces:
    * `oracleSql` is static while the corpus scales with the sf dir, so the
    * oracle is only valid where docs/2 == nPapers (sf0.001 and sf0.01 both
    * generate 250 papers; sf0.1's 2,500-paper corpus is bench-only). */
  def expectedParagraphsSql(nPapers: Int): String = {
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes(StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
    val dir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_cermxml_${contentVersion}_$nPapers")
    val pRe = "(?s)<p>(.*?)</p>".r
    val rows = (0 until nPapers).flatMap { i =>
      val paperId = sha256(f"file://$dir/paper_$i%06d.cermxml")
      pRe.findAllMatchIn(paper(i)).map(_.group(1)).zipWithIndex.toSeq
        .map { case (raw, idx) =>
          (sha256(paperId + "\u0001" + idx), raw.replaceAll("\\s+", " ").trim, paperId)
        }
        .filter(_._2.contains("data"))
    }
    def q(s: String): String = "'" + s.replace("'", "''") + "'"
    rows.map { case (pid, body, paper) => s"(${q(pid)}, ${q(body)}, ${q(paper)})" }
      .mkString(
        "SELECT * FROM (VALUES\n",
        ",\n",
        "\n) AS t(paragraph_id, body_text, paper_id) ORDER BY paragraph_id")
  }

  /** Generate (once) and return the corpus directory for `sfDir`'s scale. */
  def ensureCorpus(s: SparkSession, sfDir: String): String = {
    val nDocs = graft.Tables.rowCount(s, sfDir, "documents")
    val nPapers = math.max(20L, nDocs / 2).toInt
    val dir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_cermxml_${contentVersion}_$nPapers")
    val marker = dir.resolve("_COMPLETE")
    if (!Files.exists(marker)) {
      Files.createDirectories(dir)
      (0 until nPapers).foreach { i =>
        Files.write(dir.resolve(f"paper_$i%06d.cermxml"),
          paper(i).getBytes(StandardCharsets.UTF_8))
      }
      Files.write(marker, nPapers.toString.getBytes(StandardCharsets.UTF_8))
    }
    dir.toString
  }

  /** Generate (once) the PACKED form of the same corpus: a parquet of
    * (paper_path, xml) rows built by reading the many-files corpus exactly
    * as [[graft.sources.PaperXml.ingest]] would — so paths and bytes are
    * identical between the two representations — coalesced to a handful of
    * files. This is the input shape a 100 TB ingest should arrive in. */
  def ensurePacked(s: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val filesDir = ensureCorpus(s, sfDir)
    val packed = Paths.get(filesDir + "_packed")
    if (!Files.exists(packed.resolve("_SUCCESS"))) {
      // build in a process-unique staging dir, then atomically rename into
      // place: two JVMs sharing java.io.tmpdir (a Bench and a Verify run)
      // can both see the marker missing, but a reader can never observe a
      // partially-written directory — whoever loses the rename race just
      // discards its staging copy (ADVICE r6)
      val tmp = Paths.get(s"${packed}_stage_${ProcessHandle.current().pid()}")
      s.read.option("wholetext", "true").text(filesDir + "/*.cermxml")
        .select(input_file_name().as("paper_path"), col("value").as("xml"))
        .coalesce(4)
        .write.mode("overwrite").parquet(tmp.toString)
      def rmTree(p: java.nio.file.Path): Unit =
        if (Files.exists(p))
          Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(q => Files.deleteIfExists(q))
      try Files.move(tmp, packed, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileSystemException
            if Files.exists(packed.resolve("_SUCCESS")) =>
          // lost the race to a COMPLETE winner — drop the staging copy
          rmTree(tmp)
        case _: java.nio.file.FileSystemException =>
          // the target exists but is incomplete (a stale partial dir from an
          // interrupted builder — review r7: without this branch the stale
          // dir wedged every future build). Clearing it must be SERIALIZED
          // (ADVICE r7: two builders both taking this branch could delete
          // each other's freshly installed copy): a lock file elects one
          // cleaner, which re-checks _SUCCESS under the lock — so a
          // complete dir is never deleted and no reader that passed the
          // marker check can see a half-deleted directory. Losers wait for
          // the winner (or its death) and never touch `packed`.
          val lock = Paths.get(packed.toString + ".lock")
          def installUnderLock(): Unit = {
            try {
              if (Files.exists(packed.resolve("_SUCCESS"))) rmTree(tmp)
              else {
                rmTree(packed)
                try Files.move(tmp, packed, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                catch { case _: java.nio.file.FileSystemException => rmTree(tmp) }
              }
            } finally Files.deleteIfExists(lock)
          }
          def tryLock(): Boolean =
            try { Files.createFile(lock); true }
            catch { case _: java.nio.file.FileAlreadyExistsException => false }
          if (tryLock()) installUnderLock()
          else {
            // bounded wait for the lock holder; if the marker appears we
            // lost to a good copy, if the lock vanishes without a marker
            // the holder failed — take over once
            val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
            while (!Files.exists(packed.resolve("_SUCCESS")) &&
                   Files.exists(lock) && System.nanoTime() < deadline)
              Thread.sleep(200)
            if (Files.exists(packed.resolve("_SUCCESS"))) rmTree(tmp)
            else if (tryLock()) installUnderLock()
            else rmTree(tmp) // give up; next ensurePacked call rebuilds
          }
      }
    }
    packed.toString
  }
}
