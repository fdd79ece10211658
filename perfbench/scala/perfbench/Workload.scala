package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed pass: the workload's batch step and its serving requests,
  * each timed on the client thread. */
final case class Pass(batchMs: Double, requestMs: Seq[Double])

/** One output check; a failed check counts as a failed operation. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload gives the pass loop in [[Main]].
  *
  * Calls into the library are made only from `setup`, `warmup`, `pass`,
  * `check` and `extras`, all on the one client thread, and each timed call
  * that belongs to a layer runs inside `ctx.span`. */
trait Workload {
  /** Generates the inputs from the seed and runs the untimed preparation,
    * on a fresh session. The last set-up's state is the one timed. */
  def setup(s: SparkSession): Unit

  /** Runs the library calls of a pass, untimed, after the set-ups and
    * before the timed passes, so that the timed passes do not pay the
    * first compilation of these code paths. */
  def warmup(): Unit

  /** Timed passes a run makes even when they take longer than `--seconds`. */
  def minPasses: Int = 1

  /** One pass of timed calls. */
  def pass(): Pass

  /** Checks the last pass's outputs against the benchmark's own reference
    * code. Also returns quality figures (name → value). */
  def check(): (Seq[Check], Map[String, Double])

  /** Traced run only: workload-specific per-layer figures measured after
    * the timed passes. */
  def extras(): Map[String, Double] = Map.empty

  /** Releases what the last pass holds before the next pass runs. */
  def release(): Unit = ()
}

/** What every workload receives from [[Main]]. */
final class Ctx(val seed: Long, val tracer: Tracer, root: SparkSession) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** A fresh session (cold per-session memos) with the graft functions and
    * the tracer's query listener registered. */
  def newSession(): SparkSession = {
    val s = root.newSession()
    graft.functions.register(s)
    tracer.attach(s)
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
