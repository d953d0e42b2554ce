package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

class LayoutSpec extends SparkSpec {

  test("bucketed tables join without a shuffle") {
    // warehouse.dir is a static conf — managed test tables land in the
    // default warehouse and are dropped below
    val orders = graft.Tables(spark, "/root/testdata/sf0.001", "orders")
    val customer = graft.Tables(spark, "/root/testdata/sf0.001", "customer")
    Layout.writeBucketed(orders, "orders_b", "o_custkey", 4)
    Layout.writeBucketed(customer.withColumnRenamed("c_custkey", "o_custkey"),
      "customer_b", "o_custkey", 4)
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"), Seq("o_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed join, got:\n$plan")
    // same answer as the plain join
    val expected = orders.join(
      customer.withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey")).count()
    assert(joined.count() === expected)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
  }

  test("partitioned write prunes partitions at scan") {
    val out = Files.createTempDirectory("graft_part").toString + "/docs"
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    Layout.writePartitioned(docs, out, "lang")
    val scan = spark.read.parquet(out).filter(col("lang") === "de")
    val physical = scan.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") && physical.contains("lang"),
      s"expected partition pruning, got:\n$physical")
    assert(scan.count() === docs.filter(col("lang") === "de").count())
  }

  test("range-clustered files have pairwise-disjoint min/max envelopes") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = java.nio.file.Files.createTempDirectory("graft_range").toString + "/docs"
    Layout.writeRangeClustered(docs, out, "n_chars", files = 4)
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("n_chars").as("lo"), max("n_chars").as("hi"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(perFile.length === 4)
    assert(perFile.map(_._3).sum === docs.count())
    perFile.sliding(2).foreach {
      case Array((_, hi1, _), (lo2, _, _)) =>
        assert(hi1 <= lo2, s"file envelopes overlap: hi=$hi1 > lo=$lo2")
      case _ =>
    }
  }

  test("zOrderKey interleaves bits (known vectors) and round-trips extremes") {
    import spark.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .select(Layout.zOrderKey(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // interleave(x,y): x bits at even positions, y bits at odd
    // 3=0b11, 5=0b101 -> z = x0<<0|y0<<1|x1<<2|y1<<3|x2<<4|y2<<5 = 1|0|4|0|0|32 = 39
    assert(rows === Seq(0L, 1L, 2L, 3L, 39L, (1L << 32) - 1))
  }

  test("z-ordered files bound BOTH dimensions (rectangles, not stripes)") {
    import spark.implicits._
    // 64x64 grid, one row per cell — file bboxes should be small rectangles
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val out = java.nio.file.Files.createTempDirectory("graft_z").toString + "/grid"
    Layout.writeZOrdered(grid, out, "x", "y", files = 16)
    val boxes = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(boxes.map(_._3).sum === 64L * 64L)
    val meanX = boxes.map(_._1).sum.toDouble / boxes.length
    val meanY = boxes.map(_._2).sum.toDouble / boxes.length
    // a single-column range cluster would leave the other dim's span at ~63;
    // z-order must shrink BOTH well below half the global span
    assert(meanX < 32.0, s"mean x-span $meanX not rectangular")
    assert(meanY < 32.0, s"mean y-span $meanY not rectangular")
  }

  test("count-gated salt: hot partition splits into sorted files, cold stays single") {
    import spark.implicits._
    // one Zipf-hot partition (5000 rows) + two cold ones (100 each);
    // rowsPerFile = 1000 -> hot dir gets ceil(5000/1000) = 5 files
    val rows = ((1 to 5000).map(i => (0L, i.toLong, s"w${i % 97}")) ++
      (1 to 100).map(i => (1L, i.toLong, s"w$i")) ++
      (1 to 100).map(i => (2L, i.toLong, s"w$i"))).toDF("bucket", "doc_id", "word")
    val out = java.nio.file.Files.createTempDirectory("graft_salt").toString + "/p"
    Layout.writePartitionedCapped(rows, out, "bucket", rowsPerFile = 1000, "word")
    val back = spark.read.parquet(out)
    val filesPer = back
      .groupBy(col("bucket"), input_file_name().as("f"))
      .count().groupBy("bucket").count()
      // partitionBy dirs read back with inferred (INT) key type
      .collect().map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    // ceil(5000/1000) = 5 salt values; the spec session's 4 shuffle
    // partitions can co-locate two salts in one task, so the bound is
    // [2, 5] here — production sessions (32+ partitions) spread all 5
    assert(filesPer(0L) >= 2L && filesPer(0L) <= 5L,
      s"hot partition files: ${filesPer(0L)}")
    assert(filesPer(1L) === 1L && filesPer(2L) === 1L, s"cold split: $filesPer")
    // lossless and deterministic
    assert(back.count() === rows.count())
    assert(back.select(col("bucket").cast("long"), col("doc_id"), col("word"))
      .except(rows).isEmpty)
    // every file is internally sorted on the probe column
    val unsorted = back
      .withColumn("f", input_file_name())
      .withColumn("prev", lag("word", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f")
          .orderBy(monotonically_increasing_id())))
      .filter(col("prev") > col("word"))
    assert(unsorted.isEmpty, "a salted file lost its sort order")
  }

  /** Jobs started by `body` on this thread, counted by a listener. A fence
    * job run after the body is the last event the listener sees, so every
    * earlier job start has been delivered once the fence shows up. */
  private def jobsStartedBy(body: => Unit): Int = {
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
      sc.setJobGroup("layout-body", "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("layout-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains("layout-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("layout-fence"), "fence job never reached the listener")
      groups.toArray.count(_ == "layout-body")
    } finally sc.removeSparkListener(listener)
  }

  test("capped write under the cap: no job after its write job, same files as a plain clustered write") {
    import spark.implicits._
    // 40 partitions: at and above 32 Spark lists a partitioned store with a
    // job of its own, which a read-back census would start
    val rows = (0 until 2000).map(i => ((i % 40).toLong, i.toLong, s"w${i % 97}"))
      .toDF("bucket", "doc_id", "word")
    val root = java.nio.file.Files.createTempDirectory("graft_nocensus")
    val capped = root.resolve("capped").toString
    val plain = root.resolve("plain").toString
    val cappedJobs = jobsStartedBy(
      Layout.writePartitionedCapped(rows, capped, "bucket", rowsPerFile = 2000, "word"))
    val plainJobs = jobsStartedBy(
      rows.repartition(col("bucket")).sortWithinPartitions("bucket", "word")
        .write.mode("overwrite").partitionBy("bucket").parquet(plain))
    assert(cappedJobs === plainJobs,
      s"capped write ran $cappedJobs jobs, the clustered write alone $plainJobs")
    // per partition directory: one file, holding the same rows in the same order
    def layout(path: String): Map[String, Seq[Seq[Any]]] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(path)).iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_)).map { d =>
          val files = java.nio.file.Files.list(d).iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          assert(files.size === 1, s"$d holds ${files.size} files")
          d.getFileName.toString ->
            spark.read.parquet(files.head.toString).collect().map(_.toSeq).toSeq
        }.toMap
    }
    val got = layout(capped)
    assert(got.size === 40)
    assert(got === layout(plain))
  }

  test("rowsPerFileFrom: a malformed knob falls back to the default, an integer keeps the 64k floor") {
    val default = 1L << 20
    assert(Layout.rowsPerFileFrom(None) === default)
    Seq("", "abc", "1M", "1e6", "99999999999999999999").foreach { v =>
      assert(Layout.rowsPerFileFrom(Some(v)) === default, s"value '$v'")
    }
    assert(Layout.rowsPerFileFrom(Some("0")) === 65536L)
    assert(Layout.rowsPerFileFrom(Some("1000")) === 65536L)
    assert(Layout.rowsPerFileFrom(Some("100000")) === 100000L)
    assert(Layout.rowsPerFileFrom(Some(" 100000 ")) === 100000L)
  }
}
