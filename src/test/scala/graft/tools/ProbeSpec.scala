package graft.tools

import graft.SparkSpec

/** Smoke test of each `Probe` mode on one query and one Bench `_mat_*`
  * entry. */
class ProbeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val names = Seq("q1_agg", "_mat_corated")

  private def probe(mode: String): Seq[String] = {
    val lines = Probe.run(spark, dir, mode, names)
    assert(!lines.exists(_.contains("\tERROR\t")), lines.mkString("\n"))
    lines
  }

  test("time reports 2 reps per name under its header") {
    val lines = probe("time")
    assert(lines.head === "name\trep\tbuild_ms\tplan_ms\texec_ms\tgc_ms\tjit_ms\tcompiles")
    val rows = lines.tail.map(_.split("\t"))
    assert(rows.map(_.take(2).mkString(" ")) ===
      Seq("q1_agg 1", "q1_agg 2", "_mat_corated 1", "_mat_corated 2"))
    assert(rows.forall(_.last.matches("\\d+")), lines.mkString("\n"))
    // q1_agg's classes were compiled by the warm-up: a repeat compiles none
    assert(rows(1).last === "0", lines.mkString("\n"))
  }

  test("stages reports per-stage rows and one summary per name under its header") {
    val lines = probe("stages")
    assert(lines.head.startsWith("name\tstage\ttasks\twall_ms\trun_ms\tgc_ms\tspill_kb\tread_kb\twrite_kb\t"))
    assert(lines.exists(_.matches("q1_agg\t\\d+\t.*")), lines.mkString("\n"))
    for (n <- names)
      assert(lines.count(l => l.startsWith(s"$n\tall\tjobs=") && l.contains("\tmax_width=")) === 1)
    // q1_agg's exchange moves a few hundred bytes: they read as a fraction
    // of a KB, not as "0"
    val read = lines.filter(_.matches("q1_agg\t\\d+\t.*")).map(_.split("\t")(7).toDouble)
    assert(read.sum > 0, lines.mkString("\n"))
    val summary = lines.find(_.startsWith("q1_agg\tall\t")).get
    assert("jobs=(\\d+)".r.findFirstMatchIn(summary).get.group(1).toInt >= 1, summary)
  }

  test("explain prints the formatted plan of a query") {
    val lines = probe("explain")
    assert(lines.head === "== explain q1_agg ==")
    assert(lines.exists(_.contains("Physical Plan")), lines.mkString("\n"))
    assert(lines.contains("== explain _mat_corated =="))
  }

  test("unknown modes and names are rejected before anything runs") {
    intercept[IllegalArgumentException](Probe.run(spark, dir, "width", names))
    intercept[IllegalArgumentException](Probe.run(spark, dir, "time", Seq("no_such_query")))
  }
}
