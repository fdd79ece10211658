package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** ArrayDot (native codegen expression) vs the composable
  * aggregate+zip_with formulation, null semantics, and SQL registration. */
class ArrayDotSpec extends SparkSpec {
  import spark.implicits._

  private def hofDot = (a: String, b: String) =>
    aggregate(zip_with(col(a), col(b), (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  test("array_dot matches the HOF dot on double arrays") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2), Seq(-0.3, 0.4)),
      (Seq.empty[Double], Seq.empty[Double]))
      .toDF("a", "b")
    val rows = df.select(
      graft.functions.array_dot(col("a"), col("b")).as("native"),
      hofDot("a", "b").as("hof")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12, r.toString)
    }
  }

  test("array_dot handles float arrays and float/double mixes") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0, 4.0))).toDF("f", "d")
    val v = df.select(graft.functions.array_dot(col("f"), col("d"))).head.getDouble(0)
    assert(math.abs(v - 11.0) < 1e-9)
    val ff = Seq((Seq(0.5f, 0.5f), Seq(2.0f, 4.0f))).toDF("a", "b")
      .select(graft.functions.array_dot(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(ff - 3.0) < 1e-9)
  }

  test("array_dot null semantics: null array -> null, null element -> skipped") {
    val df = Seq(
      (Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]),
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))))
      .toDF("a", "b")
    val rows = df.select(graft.functions.array_dot(col("a"), col("b")).as("d"))
      .collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getDouble(0) == 11.0)
    val withNullElem = spark.sql(
      "SELECT array_dot(array(1.0d, NULL, 3.0d), array(2.0d, 5.0d, 4.0d)) AS d")
    assert(withNullElem.head.getDouble(0) == 14.0)
  }

  test("array_dot rejects non-numeric-array inputs at analysis") {
    val err = intercept[Exception] {
      Seq((Seq("x"), Seq("y"))).toDF("a", "b")
        .select(graft.functions.array_dot(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.contains("array_dot") || err.getMessage.contains("ANALYSIS"),
      err.getMessage)
  }

  test("array_dot rejects wrong arity with an analysis error, not IOOBE") {
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT array_dot(array(1.0d))").collect()
    }
    assert(err.getMessage.contains("array_dot"), err.getMessage)
    val err3 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT array_dot(array(1.0d), array(2.0d), array(3.0d))").collect()
    }
    assert(err3.getMessage.contains("array_dot"), err3.getMessage)
  }

  test("array_dot interpreted path (codegen off) matches the codegen path") {
    val df = Seq(
      (Seq(1.5, -2.0, 0.25), Seq(4.0, 0.5, 8.0)),
      (Seq(0.0, 0.0), Seq(1.0, 1.0)))
      .toDF("a", "b")
    val expr = graft.functions.array_dot(col("a"), col("b")).as("d")
    val withCodegen = df.select(expr).collect().map(_.getDouble(0)).toSeq
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = df.select(expr).collect().map(_.getDouble(0)).toSeq
      assert(interpreted == withCodegen, s"$interpreted vs $withCodegen")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("array_dot survives whole-stage codegen on a real aggregation") {
    val df = (1 to 1000).map(i => (i.toLong, Seq(i * 0.001, 1.0), Seq(1.0, i * 0.002)))
      .toDF("id", "a", "b")
    val s = df.select(sum(graft.functions.array_dot(col("a"), col("b"))).as("s"))
      .head.getDouble(0)
    val want = (1 to 1000).map(i => i * 0.001 * 1.0 + 1.0 * i * 0.002).sum
    assert(math.abs(s - want) < 1e-9)
  }

  test("array_dot compiles inside a whole-stage codegen stage") {
    // Range input: over a local Seq the optimizer folds the projection
    // into a LocalRelation and the expression never reaches codegen.
    val q = spark.range(100)
      .select(array(col("id").cast("double"), lit(1.0)).as("a"))
      .select(graft.functions.array_dot(col("a"), col("a")).as("d"))
      .filter(col("d") > 1.0)
    val plan = q.queryExecution.executedPlan
    val codegenned = plan.collect { case w: WholeStageCodegenExec => w.child }
      .exists(_.exists(_.expressions.exists(_.exists(_.isInstanceOf[ArrayDot]))))
    assert(codegenned, plan.treeString)
    assert(q.count() === 99L)
  }
}
