package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one per suite, small parallelism so
  * the suite runs fast; correctness must not depend on partition count. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = newSession()

  /** The suite's session settings; a new session once the active one was
    * stopped. */
  protected def newSession(): SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Jobs started by `body` on this thread, counted by a listener. A fence
    * job run after the body is the last event the listener sees, so every
    * earlier job start has been delivered once the fence shows up. */
  protected def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("spec-body", "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("spec-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains("spec-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("spec-fence"), "fence job never reached the listener")
      groups.toArray.count(_ == "spec-body")
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // Session is shared process-wide (getOrCreate); do not stop between suites.
    super.afterAll()
  }
}
