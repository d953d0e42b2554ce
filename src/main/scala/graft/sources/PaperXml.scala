package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import javax.xml.parsers.DocumentBuilderFactory
import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import scala.collection.mutable

import graft.functions.TextFunctions

/** S5/E1 — CERMINE-XML paper ingestion (SURVEY §3 E1): one row per
  * `*.cermxml` file via wholetext scan + `input_file_name()`, XML parsed
  * with the JDK DOM parser inside a UDF (per-task, no driver loop), then the
  * reference's projections:
  *
  *  - title: `article-title`, kept only if ≥3 words (P2,
  *    `paper_processing.py:79-94`)
  *  - abstract: `abstract` (F1-normalized)
  *  - authors: `contrib[contrib-type=author] string-name`, digits stripped
  *    (F2, `paper_processing.py:116`)
  *  - affiliations: `institution`, parens stripped (F3)
  *  - paragraphs: `p` elements, whitespace-normalized, candidate-filtered
  *    on "data" (P1, `paper_processing.py:170-182`)
  *  - ids: deterministic sha2 over path (+ index) — the reference's own
  *    idempotency TODO (`paper_processing.py:147-150`)
  *
  * The reference's `Pool(threads).map(wrapper_paper, paths)` becomes task
  * parallelism over input splits; per-row SQLite commits become one atomic
  * parquet write. */
/** Result row of the CERMINE-XML DOM extraction. MUST stay a TOP-LEVEL
  * public case class: when it was nested (private) inside [[PaperXml]],
  * Janino could not bind the accessors (`PaperXml$Parsed.title()`), so every
  * ingested row silently fell back to interpreted projection — a
  * constant-factor killer on the 100 TB ingest path. PaperXmlSpec pins the
  * codegen path with `spark.sql.codegen.factoryMode=CODEGEN_ONLY`. */
case class PaperXmlParsed(title: String, abstractText: String, authors: Seq[String],
    affiliations: Seq[String], paragraphs: Seq[String])

object PaperXml {

  /** One DocumentBuilder per task thread, reset between documents, instead
    * of a fresh factory per row. Measured on the 2,500-file sf0.1 corpus the
    * end-to-end time is unchanged — the ingest is bound by per-file open/
    * schedule overhead of the wholetext scan (profiled: the raw read with no
    * parsing at all costs the same 12 s at local[2] as the full ingest), so
    * this is hygiene for parse-heavy corpora (large files), not a measured
    * win here. DocumentBuilder is not thread-safe; ThreadLocal isolates it
    * per executor task thread. */
  private val builders = new ThreadLocal[javax.xml.parsers.DocumentBuilder] {
    override def initialValue(): javax.xml.parsers.DocumentBuilder = {
      val f = DocumentBuilderFactory.newInstance()
      f.setNamespaceAware(false)
      f.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
      f.newDocumentBuilder()
    }
  }

  /** DOM extraction of the CERMINE fields. Returns nulls per P7 when a
    * section is absent (`paper_processing.py:72-129`). */
  val parseXml: UserDefinedFunction = udf(
    (xml: String) => {
      if (xml == null) null
      else try {
        val b = builders.get()
        b.reset()
        val doc = b.parse(new ByteArrayInputStream(xml.getBytes(StandardCharsets.UTF_8)))
        def texts(tag: String): Seq[String] = {
          val nodes = doc.getElementsByTagName(tag)
          (0 until nodes.getLength).map(i => nodes.item(i).getTextContent)
        }
        def first(tag: String): Option[String] = texts(tag).headOption
        val authors = {
          val contribs = doc.getElementsByTagName("contrib")
          val out = mutable.ArrayBuffer.empty[String]
          for (i <- 0 until contribs.getLength) {
            val el = contribs.item(i).asInstanceOf[org.w3c.dom.Element]
            if (el.getAttribute("contrib-type") == "author") {
              val names = el.getElementsByTagName("string-name")
              for (j <- 0 until names.getLength) out += names.item(j).getTextContent
            }
          }
          out.toSeq
        }
        PaperXmlParsed(first("article-title").orNull, first("abstract").orNull,
          authors, texts("institution"), texts("p"))
      } catch { case _: Exception => null }
    })

  /** papers + paragraph catalog tables from a directory of `*.cermxml`.
    *
    * Reads via `sc.wholeTextFiles` (Hadoop CombineFileInputFormat) rather
    * than the DataFrame wholetext scan: the file-source path builds a
    * per-file driver index (listing + block locations) and plans per-file
    * open costs on every invocation — measured 4.3 s of a 4.5 s query on
    * the 2,500-file sf0.1 corpus, pure constant, repeated per query.
    * Combine splits batch many small files per task with one localized
    * index: same corpus, 0.3 s — the canonical small-files mitigation
    * (Hive's CombineHiveInputFormat ditto). Split size targets ~32 MB via
    * one driver `globStatus` (the unavoidable listing cost), so a
    * 1000-executor cluster gets real parallelism instead of
    * total/defaultParallelism-sized splits. Paths are normalized to
    * `input_file_name()` form (`file:///...`) so rows stay byte-identical
    * with the packed twin and the generator-side golden oracle. */
  def ingest(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val glob = dir + "/*.cermxml"
    // Hadoop Path, not java.net.URI (ADVICE r7): URI.<init> throws on
    // unescaped spaces / reserved chars in corpus directories, which the
    // previous DataFrame wholetext reader accepted; Path handles raw paths
    val globPath = new org.apache.hadoop.fs.Path(glob)
    val fs = globPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.globStatus(globPath).map(_.getLen).sum
    val minParts = math.max(spark.sparkContext.defaultParallelism.toLong,
      totalBytes / (32L << 20) + 1).toInt
    val rows = spark.sparkContext.wholeTextFiles(glob, minParts)
      .map { case (p, xml) =>
        // wholeTextFiles yields file:/tmp/...; input_file_name() yields
        // file:///tmp/... — normalize so ids match the packed corpus
        // (Path.toUri round-trips unescaped chars that URI.<init> rejects)
        ("file://" + new org.apache.hadoop.fs.Path(p).toUri.getPath, xml)
      }
    ingestFrom(rows.toDF("paper_path", "xml"))
  }

  /** Packed variant: the same pipeline over a parquet of (paper_path, xml)
    * rows — the "fewer, larger inputs" shape SCALE.md argues for at 100 TB.
    * The many-small-files path pays a per-file open/schedule constant that
    * dominates at sf0.1 (2,500 files); packing the corpus into a handful of
    * parquet files amortizes it away while the DOM parse and all downstream
    * projections stay byte-identical (asserted in PaperXmlSpec). */
  def ingestPacked(spark: SparkSession, packedPath: String): (DataFrame, DataFrame) =
    ingestFrom(Layout.readParquet(spark, packedPath))

  /** Shared tail of both ingest paths: DOM parse + the reference's
    * projections over any (paper_path, xml) frame. */
  def ingestFrom(rawIn: DataFrame): (DataFrame, DataFrame) = {
    val raw = rawIn
      .withColumn("parsed", parseXml(col("xml")))
      .filter(col("parsed").isNotNull)
      .withColumn("paper_id", sha2(col("paper_path"), 256))

    val papers = raw.select(
      col("paper_id"),
      when(size(split(col("parsed.title"), "\\s+")) >= 3,
        TextFunctions.normalizeWhitespace(col("parsed.title"))).as("title"),
      col("paper_path"),
      lit("").as("doi"),
      lit("").as("date"),
      expr("transform(parsed.authors, a -> trim(regexp_replace(a, '[0-9]', '')))").as("authors"),
      expr("transform(parsed.affiliations, a -> trim(translate(a, '()', '')))").as("affiliations"),
      TextFunctions.normalizeWhitespace(col("parsed.abstractText")).as("abstract"))

    val paragraphs = raw
      .select(col("paper_id"), posexplode(col("parsed.paragraphs")).as(Seq("idx", "body_raw")))
      .withColumn("body_text", TextFunctions.normalizeWhitespace(col("body_raw")))
      .filter(col("body_text").contains("data"))
      .select(
        TextFunctions.deterministicId(col("paper_id"), col("idx").cast(StringType)).as("paragraph_id"),
        col("body_text"),
        col("paper_id"))

    (papers, paragraphs)
  }
}
