package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the library, with Spark job,
  * stage and task counters attributed to the span that caused them.
  *
  * Everything is measured from outside the library: a `SparkListener` and
  * a `QueryExecutionListener` registered here, the span id carried to
  * jobs as a local property of the single client thread, and GC / JIT /
  * codegen counters read at span boundaries. Events are kept in memory
  * and folded into per-span figures once, by [[report]].
  *
  * A stopped tracer runs each span body and records nothing.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism

  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    var end: Long = -1L
    var gcMs: Long = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val phaseNs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val events = new AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.add(JobEv(e.jobId, span, e.time, e.stageIds))
      e.stageInfos.foreach(si => stageTasks.merge(si.stageId, si.numTasks, math.max(_, _)))
      events.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.put(e.jobId, e.time)
      events.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageTasks.merge(e.stageInfo.stageId, e.stageInfo.numTasks, math.max(_, _))
      events.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      tasks.add(TaskEv(e.stageId, e.taskInfo.duration,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.diskBytesSpilled).getOrElse(0L),
        !e.taskInfo.successful))
      events.incrementAndGet()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (enabled) {
      qe.tracker.phases.foreach { case (phase, s) =>
        phaseNs.computeIfAbsent(phase, _ => new AtomicLong()).addAndGet(s.durationMs * 1000000L)
      }
      events.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  @volatile private var enabled = false

  def start(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }

  def stop(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener); enabled = false }

  /** Registers the query-execution listener on a session; every session
    * the benchmark creates passes through here. */
  def attach(s: SparkSession): SparkSession = {
    s.listenerManager.register(qeListener)
    s
  }

  private def gcMsNow(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMsNow(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def compileCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` inside span `name`; nested calls become child spans. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis())
    spans += s
    open = s :: open
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    val gc0 = gcMsNow()
    try body
    finally {
      s.gcMs = gcMsNow() - gc0
      s.end = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Waits until the listener bus has delivered every event: the count of
    * received events must stay still for several polls in a row. */
  def drain(): Unit = if (enabled) {
    var last = -1L; var still = 0; var waited = 0
    while (still < 3 && waited < 5000) {
      Thread.sleep(100); waited += 100
      val n = events.get()
      if (n == last) still += 1 else { still = 0; last = n }
    }
  }

  /** Snapshot of the counters that are not tied to a span. Codegen
    * compile time is estimated as compilations × the mean of Spark's
    * compile-time histogram. */
  def globals(): Globals = { drain(); Globals(
    phaseMs = phaseNs.asScala.map { case (k, v) => k -> v.get / 1e6 }.toMap,
    jitMs = jitMsNow(),
    compiles = compileCount(),
    compileMeanMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean,
    taskOverheadMs = tasks.asScala.iterator.map(t => (t.durationMs - t.runMs).max(0L)).sum.toDouble,
    failedTasks = tasks.asScala.count(_.failed).toLong) }

  /** Per-span-name figures, each a mean per call except `core_busy`
    * (task time over the span's wall time × cores) and `max_stage_tasks`. */
  def report(): Map[String, SpanStats] = {
    drain()
    val jobList = jobs.asScala.toSeq
    val closed = spans.filter(_.end >= 0).toIndexedSeq
    // Innermost span open at time t: the fallback for a job that carries
    // no span property.
    def spanAt(t: Long): Int =
      closed.filter(s => s.start <= t && t <= s.end).sortBy(-_.start).headOption.map(_.id).getOrElse(-1)
    val jobSpan = jobList.map(j => j.jobId -> (if (j.span >= 0) j.span else spanAt(j.start))).toMap
    val stageSpan = mutable.Map.empty[Int, Int]
    jobList.sortBy(_.jobId).foreach(j => j.stages.foreach(st => stageSpan.getOrElseUpdate(st, jobSpan(j.jobId))))
    val children = closed.groupBy(_.parent)
    val taskBySpan = tasks.asScala.toSeq.groupBy(t => stageSpan.getOrElse(t.stageId, -1))
    val jobsBySpan = jobList.groupBy(j => jobSpan(j.jobId))

    closed.groupBy(_.name).map { case (name, ss) =>
      val calls = ss.size.toDouble
      val ids = ss.map(_.id).toSet
      val ts = ids.toSeq.flatMap(i => taskBySpan.getOrElse(i, Nil))
      val js = ids.toSeq.flatMap(i => jobsBySpan.getOrElse(i, Nil))
      val wall = ss.map(s => (s.end - s.start).toDouble).sum
      // Self time with no job running: the span's interval minus its
      // children's intervals minus the intervals of its own jobs.
      val driver = ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
          jobsBySpan.getOrElse(s.id, Nil).map(j =>
            (j.start, Option(jobEnds.get(j.jobId)).map(_.longValue).getOrElse(s.end)))
        (s.end - s.start) - unionLength(covered, s.start, s.end)
      }.sum.toDouble
      val taskMs = ts.map(_.durationMs).sum.toDouble
      val maxTasks = ts.map(_.stageId).distinct.map(st => stageTasks.getOrDefault(st, 0)).maxOption.getOrElse(0)
      name -> SpanStats(
        calls = ss.size,
        wallMs = wall / calls,
        driverMs = driver / calls,
        jobs = js.size / calls,
        cpuMs = ts.map(_.cpuNs).sum / 1e6 / calls,
        gcMs = ss.map(_.gcMs).sum / calls,
        shuffleBytes = ts.map(_.shuffleWrite).sum / calls,
        spillBytes = ts.map(_.spill).sum / calls,
        coreBusy = if (wall > 0) taskMs / (wall * cores) else 0.0,
        maxStageTasks = maxTasks)
    }
  }

  /** Every closed span, as JSON lines (id, name, parent, start, end). */
  def spanLines(): Seq[String] = spans.filter(_.end >= 0).toSeq.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.start},"end_ms":${s.end}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  private final case class JobEv(jobId: Int, span: Int, start: Long, stages: Seq[Int])
  private final case class TaskEv(stageId: Int, durationMs: Long, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, spill: Long, failed: Boolean)

  final case class SpanStats(calls: Int, wallMs: Double, driverMs: Double, jobs: Double,
      cpuMs: Double, gcMs: Double, shuffleBytes: Double, spillBytes: Double,
      coreBusy: Double, maxStageTasks: Int)

  final case class Globals(phaseMs: Map[String, Double], jitMs: Long, compiles: Long,
      compileMeanMs: Double, taskOverheadMs: Double, failedTasks: Long) {
    /** Counts since `o`; the histogram mean is this snapshot's. */
    def -(o: Globals): Globals = Globals(
      (phaseMs.keySet ++ o.phaseMs.keySet).map(k =>
        k -> (phaseMs.getOrElse(k, 0.0) - o.phaseMs.getOrElse(k, 0.0))).toMap,
      jitMs - o.jitMs, compiles - o.compiles, compileMeanMs, taskOverheadMs - o.taskOverheadMs,
      failedTasks - o.failedTasks)
  }

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = curE.max(b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
