package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession

/** Benchmark driver: one workload, one seed, one client thread.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  * }}}
  *
  * Sets the workload up several times on fresh sessions, warms it up, runs
  * timed passes for about `--seconds` (at least the workload's minimum),
  * checks the outputs, and writes one JSON object to `--out`. With `--trace 1` the
  * passes run inside [[Tracer]] spans and the object holds the per-layer
  * figures instead of the end-to-end ones.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = GraftSession.builder(cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark)
    val ctx = new Ctx(seed, tracer, spark)
    val wl: Workload = workload match {
      case "cmf_train" => new CmfTrain(ctx)
      case "query_mix" => new QueryMix(ctx, s"$work/data")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    if (trace) tracer.start()
    val setupMs = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      wl.setup(ctx.newSession())
      ctx.ms(t0)
    }
    // Tracing covers the set-ups and the timed passes, not the warm-up or
    // the untraced pass that the overhead is measured against.
    tracer.stop()
    val t0 = System.nanoTime()
    wl.warmup()
    val warmupMs = ctx.ms(t0)

    var attempted = 0L
    var failed = 0L
    val passes = mutable.ArrayBuffer.empty[Pass]
    val persisted = mutable.ArrayBuffer.empty[(Int, Long)]
    def storage(): (Int, Long) = {
      val sc = spark.sparkContext
      (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
    }
    // At least `minPasses` passes, then more while another one is expected
    // to end within the budget.
    def runPasses(budgetNs: Long): Seq[Pass] = {
      val out = mutable.ArrayBuffer.empty[Pass]
      val t0 = System.nanoTime()
      do {
        wl.release()
        val p = wl.pass()
        attempted += 1 + p.requestMs.size
        out += p
        persisted += storage()
      } while (out.size < wl.minPasses ||
        (System.nanoTime() - t0) * (out.size + 1) / out.size <= budgetNs)
      out.toSeq
    }

    // The traced run also times one pass untraced, for the overhead.
    val untracedMs =
      if (!trace) 0.0
      else {
        wl.release()
        val p = wl.pass()
        attempted += 1 + p.requestMs.size
        tracer.start()
        passMs(p)
      }
    // A call that throws ends the run without a result.
    val g0 = tracer.globals()
    passes ++= runPasses((seconds * 1e9).toLong)
    val g1 = tracer.globals()
    val spans = if (trace) tracer.report() else Map.empty[String, Tracer.SpanStats]
    val extras = if (trace) wl.extras() else Map.empty[String, Double]
    val extraSpans = if (trace) tracer.report() else Map.empty[String, Tracer.SpanStats]

    val (checks, quality) = wl.check()
    attempted += checks.size
    failed += checks.count(!_.ok)
    checks.filterNot(_.ok).foreach(c => System.err.println(s"CHECK FAILED ${c.name}: ${c.detail}"))
    checks.filter(_.ok).foreach(c => System.err.println(s"check ok ${c.name}: ${c.detail}"))

    val requests = passes.flatMap(_.requestMs).toSeq
    val info = mutable.LinkedHashMap[String, Any](
      "passes" -> passes.size, "requests" -> requests.size,
      "setup_ms" -> setupMs, "warmup_ms" -> warmupMs, "batch_ms" -> passes.map(_.batchMs),
      "persisted_rdds_after_pass" -> persisted.map(_._1),
      "storage_bytes_after_pass" -> persisted.map(_._2))
    info ++= quality
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> Stats.median(setupMs) / 1e3,
        "batch_s" -> Stats.median(passes.map(_.batchMs).toSeq) / 1e3,
        "request_p50_ms" -> Stats.median(requests))
      else {
        val n = passes.size.max(1).toDouble
        val g = g1 - g0
        val tracedMs = Stats.median(passes.map(passMs).toSeq)
        Layers.complete(Layers.spanMetrics(spans) ++ Layers.extraMetrics(extraSpans) ++ extras ++ quality ++ Map(
          "plans.analysis_ms" -> g.phaseMs.getOrElse("analysis", 0.0) / n,
          "plans.optimize_ms" -> g.phaseMs.getOrElse("optimization", 0.0) / n,
          "plans.physical_ms" -> g.phaseMs.getOrElse("planning", 0.0) / n,
          "codegen.compiles" -> g.compiles / n,
          "codegen.compile_ms" -> g.compiles * g.compileMeanMs / n,
          "jvm.jit_ms" -> g.jitMs / n,
          "spark.task_overhead_ms" -> g.taskOverheadMs / n,
          "spark.failed_tasks" -> g.failedTasks.toDouble,
          "spark.persisted_rdds" -> persisted.lastOption.map(_._1.toDouble).getOrElse(0.0),
          "spark.storage_bytes" -> persisted.lastOption.map(_._2.toDouble).getOrElse(0.0),
          "spark.persisted_rdds_growth" ->
            persisted.lastOption.map(l => (l._1 - persisted.head._1).toDouble).getOrElse(0.0),
          "spark.storage_bytes_growth" ->
            persisted.lastOption.map(l => (l._2 - persisted.head._2).toDouble).getOrElse(0.0),
          "trace.untraced_pass_ms" -> untracedMs,
          "trace.traced_pass_ms" -> tracedMs,
          "trace.overhead_ms" -> (tracedMs - untracedMs)))
      }
    val json = Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).toMap,
      "info" -> info.toMap))
    Files.writeString(Paths.get(opt("out")), json)
    if (trace) Files.writeString(Paths.get(s"$work/spans.jsonl"), tracer.spanLines().mkString("\n"))
    spark.stop()
  }

  private def passMs(p: Pass): Double = p.batchMs + p.requestMs.sum
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val v = xs.sorted
    val pos = (v.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, v.size - 1)
    v(lo) + (v(hi) - v(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer for the result object. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
