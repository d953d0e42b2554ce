package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CdcRules, PersistedIndex}

/** TWO-REAL-JVM maintenance proof (VERDICT r18 #4). The grace-window
  * machinery and single-host liveness assumption of [[IndexMaintenance]]
  * had only same-JVM specs; this pair of mains is the cross-process gate:
  *
  *  - [[MaintWriter]] runs the real land → fold → sweep loop over a
  *    deterministic op script (one micro-batch drain per iteration, a
  *    policy-triggered fold roughly every third batch, superseded
  *    segments/generations PHYSICALLY deleted after the grace window —
  *    run it with -Dgraft.sweep.grace.ms=30000 so deletions actually
  *    fire inside the run).
  *  - [[MaintProber]] hammers [[IndexMaintenance.probe]] from a separate
  *    JVM the whole time. Every probe must (a) succeed — no failed reads
  *    through fold, stamp, sweep, or writer restart — and (b) return
  *    EXACTLY the batch-feed-face answer for some prefix of the op
  *    script, with the matched prefix length non-decreasing across
  *    probes. Any torn generation, half-landed segment, or
  *    yanked-mid-read file surfaces as a mismatch or an exception.
  *
  * Driven by scripts/crossproc_maintenance.sh; recorded as a manual gate
  * in BASELINE.md (it runs two Spark JVMs for ~3 minutes — too heavy for
  * the sbt test loop).
  */
object MaintScript {
  /** Batches touch disjoint base-id sets ('d' on even ids, 'u' on odd,
    * adds at 300+) so cross-batch last-writer semantics stay trivially
    * the concatenation — the same-JVM spec already proves the multi-touch
    * merge; this harness isolates the PROCESS-boundary hazards. */
  def batch(k: Int): Seq[(Long, String, String)] = {
    val d = (0 until 2).map(i => (2L * (3 * k + i) % 90, "d", null: String))
    val u = (0 until 2).map { i =>
      val id = (2L * (3 * k + i) + 1) % 90
      (id, "u", text(id + 1000L * (k + 1)))
    }
    val a = Seq((300L + k, "a", text(300L + k)))
    d ++ u ++ a
  }

  def text(i: Long): String =
    (if (i % 7L == 0L) "data spark table scan pad"
     else if (i % 5L == 0L) "hash join stream data pad"
     else "pad filler pad") +
      s" one two three four five six seven eight nine ten w$i"

  def corpus(dir: String, s: SparkSession): Unit = {
    import s.implicits._
    (0L until 100L).map(i => (i, text(i), text(i).length.toLong))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def session(name: String): SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName(name)
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def feedDf(s: SparkSession, rows: Seq[(Long, String, String)]): DataFrame = {
    import s.implicits._
    rows.toDF("doc_id", "op", "payload")
  }

  /** The batch-feed-face truth after the first `n` batches, canonical. */
  def expected(s: SparkSession, corpusDir: String, base0: Path, n: Int): Seq[String] = {
    val fam = IndexMaintenance.Postings
    val floor0 = PersistedIndex.readSplit(s, base0)
    val cum = (0 until n).flatMap(batch)
    val (dead, fresh) =
      if (cum.isEmpty)
        (CdcRules.emptyIds(s, fam.idCol),
          CdcRules.emptyRows(s, fam.idCol, fam.payloadCol, fam.payloadType))
      else CdcRules.feedFrames(feedDf(s, cum), fam.idCol, fam.payloadCol, floor0)
    fam.serve(s, corpusDir, base0, dead, fresh)
      .collect().map(_.toString).sorted.toSeq
  }
}

object MaintWriter {
  def main(args: Array[String]): Unit = {
    val Array(corpusDir, rootDir, landing, ckpt, nStr) = args
    val n = nStr.toInt
    val s = MaintScript.session("MaintWriter")
    s.sparkContext.setLogLevel("ERROR")
    val root = Paths.get(rootDir)
    Files.createDirectories(root)
    MaintScript.corpus(corpusDir, s)
    IndexMaintenance.Postings.ensureBase(s, corpusDir)
    Files.writeString(root.resolve("BASE_READY"), "ok")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType)))
    for (k <- 0 until n) {
      MaintScript.feedDf(s, MaintScript.batch(k))
        .coalesce(1).write.mode("append").parquet(landing)
      // a fresh stream over the same checkpoint each iteration = the
      // restart path exercised n times
      IndexMaintenance.ingestAvailableNow(s, corpusDir,
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(landing),
        root, ckpt)
      println(s"WRITER batch $k drained")
      Thread.sleep(2000) // give the prober a window at every state
    }
    // idle tail: let the grace window elapse so sweeps DELETE while the
    // prober is still hammering, then signal done
    Thread.sleep(PersistedIndex.SweepGraceMs + 3000)
    IndexMaintenance.maybeFold(s, corpusDir, root)
    Files.writeString(root.resolve("WRITER_DONE"), "ok")
    println("WRITER done")
    s.stop()
  }
}

object MaintProber {
  def main(args: Array[String]): Unit = {
    val Array(corpusDir, rootDir, nStr) = args
    val n = nStr.toInt
    val s = MaintScript.session("MaintProber")
    s.sparkContext.setLogLevel("ERROR")
    val root = Paths.get(rootDir)
    while (!Files.exists(root.resolve("BASE_READY"))) Thread.sleep(250)
    val base0 = IndexMaintenance.Postings.ensureBase(s, corpusDir)
    val states = (0 to n).map(k => MaintScript.expected(s, corpusDir, base0, k))
    println(s"PROBER ${states.length} expected states precomputed")
    var lastK = 0
    var probes = 0
    var done = false
    // Wall-clock deadline (ADVICE r19): if the writer dies before
    // WRITER_DONE, or the final probe never reaches state n, fail the gate
    // loudly instead of spinning forever under the shell script's `wait`.
    val deadline = System.currentTimeMillis() +
      sys.props.getOrElse("graft.prober.deadline.ms", "900000").toLong
    while (!done) {
      if (System.currentTimeMillis() > deadline) {
        println(s"PROBE_DEADLINE: state $lastK/$n after $probes probes")
        s.stop(); sys.exit(5)
      }
      val got =
        try IndexMaintenance.probe(s, corpusDir, root)
          .collect().map(_.toString).sorted.toSeq
        catch {
          case e: Throwable =>
            println(s"PROBE_FAILED after $probes probes: $e")
            s.stop(); sys.exit(2)
        }
      val k = states.indexOf(got)
      if (k < 0) {
        println(s"PROBE_STALE: answer matches NO feed prefix (probe $probes)")
        s.stop(); sys.exit(3)
      }
      if (k < lastK) {
        println(s"PROBE_REGRESSED: state $k after $lastK (probe $probes)")
        s.stop(); sys.exit(4)
      }
      lastK = k
      probes += 1
      if (Files.exists(root.resolve("WRITER_DONE")) && k == n) done = true
    }
    println(s"PROBER_OK probes=$probes final_state=$lastK/$n")
    s.stop()
  }
}
