package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** r22 measurement main (VERDICT r21 #7): the bands-rung A/B at the
  * STREAMING MICRO-BATCH scale the r21 gate routes to the pruned path —
  * r21's committed A/B covered only the crawl-window regime (where the
  * gate keeps the re-band). Serves the LSH incremental pairing kernel over
  * a micro-batch fresh window (default 200 ids above the snapshot
  * watermark, the IndexMaintenance landing scale) both ways on the SAME
  * session and artifacts:
  *   A: bucket-pruned `bands` artifact read (PartitionFilters on kb)
  *   B: full in-memory re-band of the surviving signature store
  * and prints per-pass timings, the touched-bucket count (k of the
  * home's recorded `bands` modulus n — bytes skipped ≈ 1 − k/n by
  * uniform bucketing), and pair-set equality.
  *
  * `runMain graft.queries.R22LshMicroAb [windowIds]` at
  * $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS (Bench's session shape). */
object R22LshMicroAb {
  def main(args: Array[String]): Unit = {
    val window = args.headOption.map(_.toLong).getOrElse(200L)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      graft.Launch.derivedShufflePartitions(dir, cpus.toInt).toString)
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    import graft.operators.{CdcRules, Dedup, PersistedIndex}
    val home = DedupQueries.ensureLshIndex(s, dir)
    val split = PersistedIndex.readSplit(s, home)
    val fresh = graft.Tables(s, dir, "documents")
      .filter(col("doc_id") > split && col("doc_id") <= split + window)
      .select("doc_id", "text")
    val freshSigs = CdcRules.pinDerived(s, fresh,
      Dedup.minhashSignatures(fresh, "doc_id", "text"))
    val nBk = DedupQueries.lshBucketsOf(s, home)
    val kbs = Dedup.bandedSignatures(freshSigs, "doc_id")
      .select(DedupQueries.lshBandBucket(col("band"), col("key"), nBk).as("kb"))
      .distinct().collect().map(_.getLong(0)).sorted
    println(s"AB touched_buckets=${kbs.length}/$nBk window=$window split=$split")
    val baseSigs = PersistedIndex.artifactFrame(s, home, "sigs")
    val baseBands = PersistedIndex.artifactFrame(s, home, "bands")
      .where(col("kb").isin(kbs.map(java.lang.Long.valueOf): _*))
      .select("doc_id", "band", "key")
    def time(tag: String)(df: => org.apache.spark.sql.DataFrame): Long = {
      var rows = 0L
      for (pass <- 1 to 2) {
        val t0 = System.nanoTime()
        rows = df.count()
        println(f"AB $tag pass$pass ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$rows")
      }
      rows
    }
    val prunedPlan = Dedup.incrementalCandidatePairsBanded(baseBands, freshSigs, "doc_id")
    val planTxt = prunedPlan.queryExecution.executedPlan.toString
    println("AB pruned_plan_partitionfilter=" +
      (planTxt.contains("PartitionFilters") && planTxt.contains("kb#")))
    val nA = time("A_pruned_bands")(
      Dedup.incrementalCandidatePairsBanded(baseBands, freshSigs, "doc_id"))
    val nB = time("B_full_reband")(
      Dedup.incrementalCandidatePairs(baseSigs, freshSigs, "doc_id"))
    println(s"AB equal=${nA == nB}")
    val a = Dedup.incrementalCandidatePairsBanded(baseBands, freshSigs, "doc_id")
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val b = Dedup.incrementalCandidatePairs(baseSigs, freshSigs, "doc_id")
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    println(s"AB bitEqual=${a == b} nPairs=${a.length}")
    s.stop()
  }
}
