package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{Bench, GraftSession, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic CLI for any `SparkEntry.queries` name or `Bench.mats`
  * (`_mat_*`) entry, run on one session after Bench's q1_agg warm-up,
  * with results written to the noop sink as Bench does.
  *
  * Usage: `Probe <sfDir> <time|stages|explain> <name>...`
  *  - `time`: per name, 2 reps of build (DataFrame construction, with any
  *    eager memo jobs) / plan (`executedPlan`) / exec (noop write) ms,
  *    plus the GC and JIT-compilation ms the JVM spent during the rep and
  *    the classes Spark's codegen compiled in it. A `_mat_*` entry is one
  *    action, so all of its cost reads as exec. The second rep reuses the
  *    session's memos; compiled classes are JVM-wide
  *    ([[graft.GraftSession]]), so it reuses those of any earlier run.
  *  - `stages`: per name, one run's per-stage table (tasks, wall, run
  *    time, GC, spill and shuffle KB, shuffle rows), then a summary row
  *    with its job and stage counts, total tasks and max stage width.
  *  - `explain`: per query, the formatted physical plan.
  */
object Probe {

  private val modes = Seq("time", "stages", "explain")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, s"usage: Probe <sfDir> <${modes.mkString("|")}> <name>...")
    val spark = GraftSession.get()
    // scalastyle:off println
    try run(spark, args(0), args(1), args.drop(2).toSeq).foreach(println)
    // scalastyle:on println
    finally spark.stop()
  }

  /** Runs `mode` over `names` against the tables in `dir` and returns the
    * report lines, the mode's header first. A name that throws reports
    * one `ERROR` row and the rest still run. */
  def run(spark: SparkSession, dir: String, mode: String, names: Seq[String]): Seq[String] = {
    require(modes.contains(mode), s"unknown mode $mode, expected one of ${modes.mkString(", ")}")
    val mats = Bench.mats.toMap
    val unknown = names.filterNot(n => SparkEntry.queries.contains(n) || mats.contains(n))
    require(unknown.isEmpty, s"unknown names: ${unknown.mkString(", ")}")

    def query(n: String): DataFrame = SparkEntry.queries(n)(spark, dir)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def ms(t0: Long): String = f"${(System.nanoTime() - t0) / 1e6}%.0f"
    def guarded(n: String)(lines: => Seq[String]): Seq[String] =
      try lines
      catch { case NonFatal(e) => Seq(s"$n\tERROR\t${Option(e.getMessage).getOrElse(e.toString)}") }

    def timeRep(n: String, rep: Int): String = {
      val (gc0, jit0, cc0) = (gcMs(), jitMs(), compiles())
      val t0 = System.nanoTime()
      val split = mats.get(n) match {
        case Some(action) => action(spark, dir); Seq("-", "-", ms(t0))
        case None =>
          val df = query(n)
          val build = ms(t0)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val plan = ms(t1)
          val t2 = System.nanoTime()
          noop(df)
          Seq(build, plan, ms(t2))
      }
      (Seq(n, rep.toString) ++ split :+ s"${gcMs() - gc0}" :+ s"${jitMs() - jit0}" :+
        s"${compiles() - cc0}").mkString("\t")
    }

    // The listener bus delivers stage events asynchronously: wait until
    // none has arrived for three 100 ms polls in a row.
    val done = new ConcurrentLinkedQueue[StageInfo]()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = done.add(e.stageInfo)
    }
    def drain(): Unit = {
      var (last, still, waited) = (-1, 0, 0)
      while (still < 3 && waited < 5000) {
        Thread.sleep(100); waited += 100
        if (done.size == last) still += 1 else { still = 0; last = done.size }
      }
    }
    def stages(n: String): Seq[String] = {
      drain(); done.clear(); jobs.set(0)
      val t0 = System.nanoTime()
      mats.get(n).fold(noop(query(n)))(_(spark, dir))
      val wall = ms(t0)
      drain()
      val infos = done.asScala.toSeq.sortBy(_.stageId)
      infos.map(stageRow(n, _)) :+ Seq(n, "all", s"jobs=${jobs.get}", s"stages=${infos.size}",
        s"total_tasks=${infos.map(_.numTasks).sum}",
        s"max_width=${infos.map(_.numTasks).maxOption.getOrElse(0)}", s"wall_ms=$wall").mkString("\t")
    }

    if (mode != "explain") noop(query("q1_agg"))
    mode match {
      case "time" =>
        "name\trep\tbuild_ms\tplan_ms\texec_ms\tgc_ms\tjit_ms\tcompiles" +:
          names.flatMap(n => guarded(n)(Seq(timeRep(n, 1), timeRep(n, 2))))
      case "stages" =>
        spark.sparkContext.addSparkListener(listener)
        try "name\tstage\ttasks\twall_ms\trun_ms\tgc_ms\tspill_kb\tread_kb\twrite_kb\tread_rows\twrite_rows" +:
          names.flatMap(n => guarded(n)(stages(n)))
        finally spark.sparkContext.removeSparkListener(listener)
      case "explain" =>
        names.flatMap(n => s"== explain $n ==" +: guarded(n) {
          if (mats.contains(n)) Seq(s"no plan: $n is a Bench action, not a query")
          else query(n).queryExecution.explainString(FormattedMode).linesIterator.toSeq
        })
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes compiled by Spark's codegen so far in this JVM; counted in the
    * compiling thread, so a rep's delta is complete when its action returns. */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def kb(bytes: Long): String = "%.1f".formatLocal(java.util.Locale.ROOT, bytes / 1024.0)

  private def stageRow(name: String, si: StageInfo): String = {
    val tm = si.taskMetrics
    val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
    Seq(name, si.stageId, si.numTasks, wall, tm.executorRunTime, tm.jvmGCTime,
      kb(tm.memoryBytesSpilled), kb(tm.shuffleReadMetrics.totalBytesRead),
      kb(tm.shuffleWriteMetrics.bytesWritten),
      tm.shuffleReadMetrics.recordsRead, tm.shuffleWriteMetrics.recordsWritten).mkString("\t")
  }
}
