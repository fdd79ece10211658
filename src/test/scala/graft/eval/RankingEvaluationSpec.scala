package graft.eval

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.graftshim.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Proves the one-pass [[RankingEvaluation.evaluate]] against the window
  * pipeline it replaced ([[WindowRankingEvaluation]]): same rows, every
  * metric within 1e-12 (the sums run in a different order), on generated
  * inputs with every ranking edge the window defines. */
class RankingEvaluationSpec extends SparkSpec {

  private val ks = Seq(10, 1, 5)

  /** Predictions (user, item, score) and truth (user, item) from `seed`:
    *  - users 0–29 have predictions and truth, 30–34 truth only, 35–39
    *    predictions only; a null user appears on both sides;
    *  - 0–13 predictions per user (k = 10 exceeds many lists), scores
    *    from four values (ties), 8% NaN and 8% null, an occasional null
    *    item and an occasional repeated (user, item) row;
    *  - 1–6 relevant items per user, each row once or twice, and a null
    *    relevant item for user 0.
    * Item ids are `itemType` (int, or strings "i<n>" whose order is not
    * numeric); `truthUserType` lets truth carry a narrower user type. */
  private def inputs(seed: Long, itemType: DataType, truthUserType: DataType = LongType): (DataFrame, DataFrame) = {
    val rnd = new Random(seed)
    def item(i: Int): Any = if (itemType == StringType) s"i$i" else i
    val predRows = ((0 until 30) ++ (35 until 40)).flatMap { u =>
      val picked = rnd.shuffle((0 until 25).toList).take(rnd.nextInt(14))
      val rows = picked.map { i =>
        val x = rnd.nextDouble()
        val score: Any = if (x < 0.08) null else if (x < 0.16) Double.NaN else Seq(0.25, 0.5, 0.75, 1.0)(rnd.nextInt(4))
        Row(u.toLong, if (rnd.nextDouble() < 0.04) null else item(i), score)
      }
      if (rows.nonEmpty && rnd.nextDouble() < 0.3) rows :+ rows.head else rows
    } ++ Seq(Row(null, item(1), 0.5), Row(null, item(2), 0.75))
    val truthRows = (0 until 35).flatMap { u =>
      rnd.shuffle((0 until 25).toList).take(1 + rnd.nextInt(6)).flatMap { i =>
        Seq.fill(1 + rnd.nextInt(2))(Row(u.toLong, item(i)))
      }
    } ++ Seq(Row(0L, null), Row(null, item(1)), Row(null, item(3)))
    val pred = spark.createDataFrame(spark.sparkContext.parallelize(predRows, 3), StructType(Seq(
      StructField("user", LongType), StructField("item", itemType), StructField("score", DoubleType))))
    val truth = spark.createDataFrame(spark.sparkContext.parallelize(truthRows, 2), StructType(Seq(
      StructField("user", LongType), StructField("item", itemType))))
      .withColumn("user", col("user").cast(truthUserType))
    (pred, truth)
  }

  private def assertMatches(pred: DataFrame, truth: DataFrame, ks: Seq[Int]): Unit = {
    val got = RankingEvaluation.evaluate(pred, truth, "user", "item", "score", ks)
    val want = WindowRankingEvaluation.evaluate(pred, truth, "user", "item", "score", ks)
    assert(got.schema == want.schema)
    val (g, w) = (got.collect(), want.collect())
    assert(g.map(_.getInt(0)).toSeq == w.map(_.getInt(0)).toSeq)
    for ((gr, wr) <- g.zip(w); j <- 1 until gr.length) {
      val (a, b) = (gr.getDouble(j), wr.getDouble(j))
      assert(math.abs(a - b) <= 1e-12, s"k=${gr.getInt(0)} ${gr.schema(j).name}: $a vs $b")
    }
  }

  test("one-pass evaluation equals the window pipeline on int item ids") {
    for (seed <- 1L to 3L) {
      val (pred, truth) = inputs(seed, IntegerType)
      assertMatches(pred, truth, ks)
    }
  }

  test("one-pass evaluation equals the window pipeline on string item ids") {
    for (seed <- 4L to 6L) {
      val (pred, truth) = inputs(seed, StringType)
      assertMatches(pred, truth, ks)
    }
  }

  test("one-pass evaluation equals the window pipeline across user types and float scores") {
    val (pred, truth) = inputs(7L, IntegerType, truthUserType = IntegerType)
    assertMatches(pred, truth, ks)
    assertMatches(pred.withColumn("score", col("score").cast("float")), truth, Seq(3))
  }

  test("no truth rows gives no rows") {
    val (pred, truth) = inputs(8L, StringType)
    assert(RankingEvaluation.evaluate(pred, truth.limit(0), "user", "item", "score", ks).collect().isEmpty)
  }

  test("evaluate builds without a job and runs as one") {
    val (pred, truth) = inputs(9L, IntegerType)
    val sc = spark.sparkContext
    val (plain, built) = JobCount(sc)(RankingEvaluation.evaluate(pred, truth, "user", "item", "score", ks))
    val (rows, ran) = JobCount(sc)(plain.collect())
    assert(built == 0 && ran == 1 && rows.length == 3, s"built $built, ran $ran")
    // An input that holds a shuffle still builds without one.
    val deduped = pred.groupBy("user", "item").agg(max("score").as("score"))
    val (_, builtOverShuffle) =
      JobCount(sc)(RankingEvaluation.evaluate(deduped, truth, "user", "item", "score", ks))
    assert(builtOverShuffle == 0)
  }
}
