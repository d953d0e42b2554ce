package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, and the Spark work
  * attributed to them.
  *
  * Each span sets its own Spark job group (`spark.jobGroup.id` = `pb<id>`)
  * for the calling thread; threads a call creates inherit it. A
  * [[GroupListener]] counts jobs, stages, tasks and task metrics per group.
  * Spans are opened by the one client thread only, so the span stack needs
  * no locking. When tracing is off, [[span]] runs its body and records
  * nothing, and no listener is registered. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  val listener = new GroupListener
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  /** Route job-group labels to `ctx` (a fresh context after each setup,
    * null while there is none). */
  def attach(ctx: SparkContext): Unit = {
    sc = ctx
    if (enabled && ctx != null) ctx.addSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime())
    spans += s
    stack = s :: stack
    if (sc != null) sc.setJobGroup(group(s.id), name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      if (sc != null) stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p.id), p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until the listener has seen every event posted so far: a marker
    * job's end arrives after all earlier events on the listener's queue.
    * Spark's own drain hook is not public, so the counters are read only
    * after this, never between calls. */
  def drain(): Unit = if (enabled && sc != null && !sc.isStopped) {
    sc.setJobGroup(DrainGroup, "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!listener.drained && System.nanoTime() < deadline) Thread.sleep(5)
    require(listener.drained, "Spark listener did not drain within 60 s")
  }
}

object Tracer {
  val DrainGroup = "pb-drain"
  val JobGroupKey = "spark.jobGroup.id"
  def group(id: Int): String = s"pb$id"

  final case class Span(id: Int, name: String, parent: Int, start: Long) {
    var end: Long = 0L
  }

  /** Per-job-group Spark counters; task times in ms, CPU in ns, sizes in bytes. */
  final class Counts {
    var jobs, stages, tasks, taskMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
    def fields: Seq[(String, Long)] = Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
      "task_cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
      "input_bytes" -> input, "output_bytes" -> output)
  }
}

/** Counts Spark work per `spark.jobGroup.id`. Jobs outside every span fall
  * under the empty group. Stage ids restart with each SparkContext, so the
  * stage map is cleared when a context ends (its bus drains on stop). */
final class GroupListener extends SparkListener {
  import Tracer._

  val counts = TrieMap.empty[String, Counts]
  private val stageGroup = TrieMap.empty[Int, String]
  private val drainJobs = TrieMap.empty[Int, Unit]
  @volatile var drained = false

  private def of(g: String): Counts = counts.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobGroupKey))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    if (g == DrainGroup) { drainJobs.put(e.jobId, ()); drained = false }
    else { val c = of(g); c.synchronized(c.jobs += 1) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (drainJobs.contains(e.jobId)) drained = true

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrElse(e.stageInfo.stageId, "")
    if (g != DrainGroup) { val c = of(g); c.synchronized(c.stages += 1) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrElse(e.stageId, "")
    val m = e.taskMetrics
    if (g == DrainGroup || m == null) return
    val c = of(g)
    c.synchronized {
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    stageGroup.clear()
    drainJobs.clear()
  }
}
