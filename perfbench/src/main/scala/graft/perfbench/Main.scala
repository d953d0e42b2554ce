package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Launch, SparkEntry, Tables}
import graft.operators.CdcRules
import graft.queries.SfPins
import graft.streaming.IndexMaintenance

/** The benchmark's client: one thread issuing calls into the library in a
  * closed loop (each call starts when the previous one returns), from a
  * working directory that holds everything the run creates (the index
  * store `staging/`, the maintenance roots, Spark's scratch space).
  *
  * Usage: `Main <conf>`, where `<conf>` holds `key=value` lines written by
  * `run.py`. Results go to `<out>/result.json`; each checked output goes to
  * `<out>/check/`. Only the calls into the library are timed: encoding and
  * comparing outputs happen between timed calls. After writing its result
  * the process prints `READY` and waits for its stdin to close, so the
  * runner can read the JVM's peak resident set from outside. */
object Main {

  /** The index families the maintenance loop drives, in round order: one
    * per kind of index and payload — the inverted index (BM25 postings),
    * the near-duplicate signatures (LSH bands) and the vector index (IVF).
    * Positions, KG and pHash ride the same loop over the same document
    * feed; driving them too would not fit the run's time budget. */
  val Families: Seq[IndexMaintenance.Family] = Seq(
    IndexMaintenance.Postings,
    graft.queries.DedupQueries.LshMaintenance,
    graft.queries.SimilarityQueries.IvfMaintenance)

  /** The tables each workload reads; each is scanned once in set-up. */
  val TableNames: Map[String, Seq[String]] = Map(
    "faces" -> Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings"),
    "maintain" -> Seq("documents", "embeddings"))

  final case class Op(kind: String, name: String, pass: String,
      callMs: Double, execMs: Double, error: String, extra: Seq[(String, String)])

  def main(args: Array[String]): Unit = {
    val conf = readConf(Paths.get(args(0)))
    if (conf("workload") == "list") { listFaces(Paths.get(conf("out"))); return }
    new Run(conf).execute()
    println("READY")
    Console.out.flush()
    while (System.in.read() >= 0) {}
    System.exit(0)
  }

  def readConf(p: Path): Map[String, String] =
    Files.readAllLines(p).toArray(Array.empty[String]).iterator
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap

  /** `{module: [face, ...]}` for every registered query module. */
  def listFaces(out: Path): Unit = {
    import graft.queries._
    val modules = Seq("Relational" -> Relational.queries, "TextQueries" -> TextQueries.queries,
      "CorpusQueries" -> CorpusQueries.queries, "MatchQueries" -> MatchQueries.queries,
      "ALQueries" -> ALQueries.queries, "DedupQueries" -> DedupQueries.queries,
      "SimilarityQueries" -> SimilarityQueries.queries, "EventQueries" -> EventQueries.queries,
      "PipelineQueries" -> PipelineQueries.queries, "MLQueries" -> MLQueries.queries,
      "MultimodalQueries" -> MultimodalQueries.queries, "GapQueries" -> GapQueries.queries,
      "CurationQueries" -> CurationQueries.queries)
    val registered = SparkEntry.queries.keySet
    val json = Json.obj(modules.map { case (m, q) =>
      m -> Json.arr(q.keys.toSeq.filter(registered).sorted.map(Json.str)) })
    Files.createDirectories(out)
    Files.writeString(out.resolve("faces.json"), json)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally st.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val st = Files.walk(p)
    try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally st.close()
  }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
}

final class Run(conf: Map[String, String]) {
  import Main._

  private val workload = conf("workload")
  private val corpus = conf("corpus")
  private val out = Paths.get(conf("out"))
  private val seconds = conf("seconds").toDouble
  private val cpus = conf("cpus").toInt
  private val tracer = new Tracer(conf("trace") == "1")
  private val ops = new ArrayBuffer[Op]() {
    override def addOne(o: Op): this.type = {
      System.err.println(f"[perfbench] ${o.kind} ${o.name} ${o.pass} call=${o.callMs}%.0fms " +
        f"exec=${o.execMs}%.0fms${if (o.error != null) " ERROR " + o.error else ""}")
      super.addOne(o)
    }
  }
  private val notes = ArrayBuffer.empty[(String, String)]
  private val setupS = ArrayBuffer.empty[Double]
  private var spark: SparkSession = _

  def execute(): Unit = {
    Files.createDirectories(out.resolve("check"))
    (1 to conf("setups").toInt).foreach(_ => setup())
    workload match {
      case "faces" => faces()
      case "maintain" => maintain()
    }
    tracer.drain()
    writeResult()
    spark.stop()
  }

  /** One set-up: a new SparkContext and session, an empty index store and
    * every table scanned once. */
  private def setup(): Unit = {
    if (spark != null) { tracer.attach(null); spark.stop() }
    deleteTree(Paths.get("staging"))
    deleteTree(Paths.get("roots"))
    val t0 = System.nanoTime()
    tracer.span("setup") {
      spark = tracer.span("spark.session_start") {
        SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions",
            Launch.derivedShufflePartitions(corpus, cpus).toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
          .getOrCreate()
      }
      spark.sparkContext.setLogLevel("ERROR")
      tracer.attach(spark.sparkContext)
      TableNames(workload).foreach(t =>
        tracer.span(s"sources.scan:$t") { Tables(spark, corpus, t).count() })
    }
    setupS += (System.nanoTime() - t0) / 1e9
  }

  /** Call one face and materialize every column of what it returns. */
  private def face(name: String, pass: String): (Op, Array[Row], Array[String]) = {
    val fn = SparkEntry.queries(name)
    var t0, t1, t2 = 0L
    try {
      t0 = System.nanoTime()
      val df = tracer.span(s"queries.call:$name")(fn(spark, corpus))
      t1 = System.nanoTime()
      val rows = tracer.span(s"queries.collect:$name")(df.collect())
      t2 = System.nanoTime()
      (Op("face", name, pass, ms(t0, t1), ms(t1, t2), null, Nil), rows, df.columns)
    } catch {
      case NonFatal(e) =>
        val t = System.nanoTime()
        (Op("face", name, pass, ms(t0, if (t1 == 0L) t else t1), if (t1 == 0L) 0.0 else ms(t1, t),
          String.valueOf(e.getMessage).take(300), Nil), null, null)
    }
  }

  /** Register the corpus with the pinned-oracle registry and dump the
    * oracle SQL of `names` for `check.py`. */
  private def dumpOracles(names: Seq[String]): Unit = {
    tracer.span("bench.oracle_pins")(SfPins.register(spark, corpus))
    val sql = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(names.filter(sql.contains).map(n => n -> Json.str(sql(n)))))
  }

  private def pinnedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Run `names` once, writing each first output for the oracle check and
    * comparing every later output with the first. */
  private def pass(label: String, names: Seq[String],
      first: scala.collection.mutable.Map[String, Seq[String]]): Unit = {
    tracer.span(s"pass:$label") {
      names.foreach { n =>
        val (op, rows, cols) = face(n, label)
        ops += (if (rows == null) op else {
          val lines = Json.rowLines(cols, rows)
          if (!first.contains(n)) {
            Files.writeString(out.resolve("check").resolve(s"$n.json"), Json.rows(cols, lines))
            first(n) = canonical(cols, lines)
            op
          } else if (first(n) == canonical(cols, lines)) op
          else op.copy(error = "output differs from the first pass")
        })
      }
    }
    notes += s"pinned_bytes:$label" -> pinnedBytes().toString
  }

  /** Row order is part of a face's answer only where the oracle pins it;
    * comparing sorted rows checks repeat passes without that assumption. */
  private def canonical(cols: Array[String], lines: Array[String]): Seq[String] =
    cols.sorted.toSeq ++ lines.sorted

  private def faces(): Unit = {
    val names = conf("faces").split(",").toSeq
    dumpOracles(names)
    val first = scala.collection.mutable.Map.empty[String, Seq[String]]
    pass("cold", names, first)
    val start = System.nanoTime()
    var k = 0
    while (k == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      k += 1
      pass(s"warm$k", names, first)
    }
    notes += "warm_passes" -> k.toString
  }

  /** Build the base indexes into the empty store, then land seeded
    * micro-batches family by family, probing after each: at least
    * `min_rounds` rounds, and more (up to `rounds`) until `seconds` have
    * passed and every family has folded at least once. The builds and the
    * first round are the cold phase. */
  private def maintain(): Unit = {
    val feeds = Paths.get(conf("feeds"))
    val rounds = conf("rounds").toInt
    val minRounds = conf("min_rounds").toInt
    val bases = Families.flatMap { f =>
      val t0 = System.nanoTime()
      try {
        val home = tracer.span("round:build") {
          tracer.span(s"operators.PersistedIndex.ensureBase:${f.name}")(f.ensureBase(spark, corpus))
        }
        ops += Op("build", f.name, "round0", ms(t0, System.nanoTime()), 0.0, null, Nil)
        Some(f -> home)
      } catch { case NonFatal(e) =>
        ops += Op("build", f.name, "round0", ms(t0, System.nanoTime()), 0.0,
          String.valueOf(e.getMessage).take(300), Nil)
        None
      }
    }
    val floors = bases.map { case (f, home) =>
      f.name -> graft.operators.PersistedIndex.readSplit(spark, home) }.toMap
    val folded = scala.collection.mutable.Set.empty[String]
    val start = System.nanoTime()
    var r = 0
    while (r < rounds && (r < minRounds || folded.size < bases.size ||
        (System.nanoTime() - start) / 1e9 < seconds)) {
      tracer.span(s"round:$r") {
        bases.foreach { case (f, home) => maintainStep(f, r, feeds, home, floors(f.name), folded) }
      }
      notes += s"pinned_bytes:round$r" -> pinnedBytes().toString
      r += 1
    }
    notes += "rounds" -> r.toString
    notes += "families_folded" -> folded.size.toString
    bases.foreach { case (f, home) =>
      notes += s"root_bytes:${f.name}" -> treeBytes(Paths.get("roots", f.name)).toString
      notes += s"base_bytes:${f.name}" -> treeBytes(home).toString
    }
  }

  private def feedOf(f: IndexMaintenance.Family): String =
    if (f.idCol == "vec_id") "vec" else "doc"

  private def generations(root: Path): Int =
    if (!Files.exists(root)) 0 else {
      val st = Files.list(root)
      try st.filter(p => p.getFileName.toString.startsWith("base_") &&
          Files.exists(p.resolve("_INDEX_COMPLETE"))).count().toInt
      finally st.close()
    }

  private def liveSegments(root: Path): Int = if (!Files.exists(root)) 0 else {
    val st = Files.list(root)
    val names = try st.toArray.map(_.asInstanceOf[Path]) finally st.close()
    val complete = names.filter(p => Files.exists(p.resolve("_INDEX_COMPLETE")))
      .map(_.getFileName.toString)
    val floor = complete.filter(_.startsWith("base_"))
      .map(_.stripPrefix("base_").toLong).foldLeft(-1L)(math.max)
    complete.count(n => n.startsWith("seg_") && n.stripPrefix("seg_").toLong > floor)
  }

  private def maintainStep(f: IndexMaintenance.Family, r: Int, feeds: Path,
      base0: Path, floor0: Long, folded: scala.collection.mutable.Set[String]): Unit = {
    val root = Paths.get("roots", f.name).toAbsolutePath
    val kind = feedOf(f)
    val batch = spark.read.parquet(feeds.resolve(kind).resolve(s"batch_$r.parquet").toString)
    val gens = generations(root)
    val bytesBefore = treeBytes(root)
    var err: String = null
    var t0, t1 = 0L
    try {
      t0 = System.nanoTime()
      tracer.span(s"streaming.IndexMaintenance.resolve:${f.name}") {
        IndexMaintenance.resolve(spark, corpus, root, f)
      }
      t1 = System.nanoTime()
      tracer.span(s"streaming.IndexMaintenance.applyBatch:${f.name}") {
        IndexMaintenance.applyBatch(spark, corpus, root, batch, r.toLong, f)
      }
    } catch { case NonFatal(e) => err = String.valueOf(e.getMessage).take(300) }
    val t2 = System.nanoTime()
    val fold = generations(root) > gens
    if (fold) folded += f.name
    ops += Op("apply", f.name, s"round$r", ms(t1, t2), 0.0, err, Seq(
      "resolve_ms" -> ms(t0, t1).toString, "fold" -> fold.toString,
      "bytes_written" -> (treeBytes(root) - bytesBefore).max(0L).toString,
      "round" -> r.toString, "feed" -> Json.str(kind)))
    val segs = liveSegments(root)
    var rows: Array[Row] = null
    var cols: Array[String] = null
    var p0, p1, p2 = 0L
    err = null
    try {
      p0 = System.nanoTime()
      val df = tracer.span(s"streaming.IndexMaintenance.probe:${f.name}") {
        IndexMaintenance.probe(spark, corpus, root, f)
      }
      p1 = System.nanoTime()
      rows = tracer.span(s"streaming.IndexMaintenance.collect:${f.name}")(df.collect())
      cols = df.columns
    } catch { case NonFatal(e) => err = String.valueOf(e.getMessage).take(300) }
    p2 = System.nanoTime()
    if (p1 == 0L) p1 = p2
    if (err == null) err = tracer.span("bench.check") {
      // the family's batch feed face over the cumulative feed, served from
      // the pristine base home the loop never writes
      val cum = spark.read.parquet(feeds.resolve(kind).resolve(s"cum_$r.parquet").toString)
      val (dead, fresh) = CdcRules.feedFrames(cum, f.idCol, f.payloadCol, floor0)
      val truth = f.serve(spark, corpus, base0, dead, fresh)
      val want = canonical(truth.columns, Json.rowLines(truth.columns, truth.collect()))
      if (want == canonical(cols, Json.rowLines(cols, rows))) null
      else s"probe differs from the batch feed face after round $r"
    }
    ops += Op("probe", f.name, s"round$r", ms(p0, p1), ms(p1, p2), err,
      Seq("segments" -> segs.toString, "rows" -> Option(rows).map(_.length).getOrElse(0).toString))
  }

  private def writeResult(): Unit = {
    val opJson = ops.map { o =>
      Json.obj(Seq("kind" -> Json.str(o.kind), "name" -> Json.str(o.name),
        "pass" -> Json.str(o.pass), "call_ms" -> Json.num(o.callMs),
        "exec_ms" -> Json.num(o.execMs),
        "error" -> (if (o.error == null) "null" else Json.str(o.error))) ++
        o.extra)
    }
    val spanJson = tracer.spans.map(s => Json.obj(Seq("id" -> s.id.toString,
      "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)))
    val groupJson = tracer.listener.counts.toSeq.sortBy(_._1).map { case (g, c) =>
      g -> Json.obj(c.synchronized(c.fields).map { case (k, v) => k -> v.toString })
    }
    val rt = Runtime.getRuntime
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "heap_max_mb" -> (rt.maxMemory >> 20).toString,
      "notes" -> Json.obj(notes.map { case (k, v) => k -> Json.str(v) }),
      "ops" -> Json.arr(opJson),
      "spans" -> Json.arr(spanJson),
      "groups" -> Json.obj(groupJson)))
    Files.writeString(out.resolve("result.json"), json)
  }
}
