package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Generated code is JVM-wide ([[GraftSession]]): a query shape compiled on
  * one session is not compiled again on a fresh `newSession()`, which
  * starts every memo cold but shares the context's class loader and
  * codegen cache. Compilations are counted by Spark's codegen metric,
  * which the compiling thread updates before its stage ends. */
class CodegenReuseSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `names` in order on a fresh session: each entry's rows, sorted,
    * and the classes compiled while they ran. */
  private def onFreshSession(names: Seq[String]): (Seq[Seq[String]], Long) = {
    val s: SparkSession = spark.newSession()
    graft.functions.register(s)
    val before = compiles()
    val rows = names.map(n => SparkEntry.queries(n)(s, dir).collect().map(_.toString).toSeq.sorted)
    val compiled = compiles() - before
    queries.Memo.release(s)
    (rows, compiled)
  }

  /** Runs `names` on two fresh sessions: the second may compile at most
    * `allowed` classes, and must return the same rows. */
  private def assertReused(names: Seq[String], allowed: Long): Unit = {
    val (first, _) = onFreshSession(names)
    val (second, compiled) = onFreshSession(names)
    assert(compiled <= allowed, s"${names.mkString(", ")}: $compiled classes compiled again on a fresh session")
    for ((n, (a, b)) <- names.zip(first.zip(second))) assert(a == b, n)
  }

  test("q1_agg and events_page_hinkley compile nothing on a fresh session") {
    assertReused(Seq("q1_agg", "events_page_hinkley"), allowed = 0)
  }

  test("a working set above Spark's default 100 cache entries stays compiled") {
    // About 200 classes. A whole-stage class names its codegen stage id in
    // its body, and AQE numbers stages in the order earlier stages finish,
    // so a shape can come back as a variant that is compiled once more:
    // allow one such variant. With a 100-entry cache these entries evict
    // each other and most of them compile again.
    assertReused(Seq("q1_agg", "q2_join", "q3_topk", "q4_window", "q5_semijoin", "q8_asof_join",
      "q10_funnel", "q13_pivot", "q17_star", "q28_profit", "events_page_hinkley"), allowed = 4)
  }
}
