package graft.operators

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.streaming.IndexMaintenance

/** [[PersistedIndex.writeArtifacts]], the concurrent writer of a
  * generation's artifacts: a failing step publishes nothing and leaves
  * neither a staging dir nor a helper thread behind, and every job a step
  * starts carries the caller's job group — so per-call job attribution
  * holds across a folding micro-batch. */
class ArtifactWritesSpec extends SparkSpec {

  private def helperThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-artifact-write-"))

  private def stagingDirs(parent: Path): Seq[String] =
    Files.list(parent).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".build_")).toSeq

  test("a failing step: nothing publishes, no staging dir or helper thread remains, its own error surfaces") {
    val parent = Files.createTempDirectory("aw_fail")
    val home = parent.resolve("idx")
    val boom = new IllegalStateException("the second artifact failed")
    val thrown = intercept[IllegalStateException] {
      PersistedIndex.buildIfAbsent(home) { tmp =>
        PersistedIndex.writeArtifacts(
          () => spark.range(0, 2000, 1, 2).write.parquet(tmp.resolve("a").toString),
          () => throw boom,
          // still writing when the sibling fails: the staging dir may only
          // be deleted once this write is done, or it would be recreated
          () => { Thread.sleep(500); spark.range(10).write.parquet(tmp.resolve("c").toString) })
      }
    }
    assert(thrown eq boom)
    assert(!Files.exists(home), "a failed build published its home")
    assert(stagingDirs(parent).isEmpty, "a failed build left its staging dir")
    assert(helperThreads.isEmpty, "a helper thread outlived the call")
  }

  test("several failing steps: the first in argument order surfaces, the others are suppressed") {
    val first = new IllegalArgumentException("first")
    val second = new IllegalStateException("second")
    val thrown = intercept[IllegalArgumentException] {
      PersistedIndex.writeArtifacts(
        () => { Thread.sleep(200); throw first },
        () => (),
        () => throw second)
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq === Seq(second))
    assert(helperThreads.isEmpty)
  }

  test("steps run at the same time") {
    val started = new java.util.concurrent.CountDownLatch(3)
    val step: () => Unit = () => {
      started.countDown()
      assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "a step waited for its siblings that never started")
    }
    PersistedIndex.writeArtifacts(step, step, step)
  }

  test("a folding applyBatch: every job of its concurrent writes is counted in the caller's group") {
    import spark.implicits._
    val corpus = Files.createTempDirectory("aw_corpus").toString
    (0L until 100L).map(i => (i, if (i % 7L == 0L) "data spark pad" else "pad filler pad"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$corpus/documents.parquet")
    val root = Files.createTempDirectory("aw_root")
    def batch(rows: Seq[(Long, String, String)]) = rows.toDF("doc_id", "op", "payload")
    IndexMaintenance.applyBatch(spark, corpus, root,
      batch(Seq((7L, "d", null), (28L, "u", "data data"), (200L, "a", "spark data"))), 0L)
    assert(IndexMaintenance.resolve(spark, corpus, root)._3.size === 1, "batch 0 must not fold")

    // every job started while the counted body runs, whatever its group
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    spark.sparkContext.addSparkListener(listener)
    val counted = try jobsStartedBy(IndexMaintenance.applyBatch(spark, corpus, root,
      batch(Seq((40L, "d", null), (50L, "d", null), (60L, "u", "join data"),
        (201L, "a", "data spark"), (202L, "a", "spark spark"), (3L, "d", null),
        (14L, "u", "pad pad"), (203L, "a", "data data data"))), 1L))
    finally spark.sparkContext.removeSparkListener(listener)

    val (_, floor, segs) = IndexMaintenance.resolve(spark, corpus, root)
    assert(floor === 1L && segs.isEmpty, "batch 1 must fold")
    val seen = groups.asScala.toSeq
    assert(seen.filterNot(Set("spec-body", "spec-fence")).isEmpty,
      s"jobs escaped the caller's job group: $seen")
    // the postings fold writes postings, doclen and stats, one job or more each
    assert(counted >= 3, s"a folding apply counted $counted jobs")
    assert(counted === seen.count(_ == "spec-body"))
  }
}
