package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Test-only reference for [[RankingEvaluation.evaluate]]: the earlier
  * window-and-join pipeline, kept verbatim as the definition the one-pass
  * rewrite is proven against (`RankingEvaluationSpec`). Per user it ranks
  * by `row_number()` over (score desc, item), left-joins the distinct
  * relevant set, takes cumulative hits with a second window, fans out over
  * the cutoffs with a cross and a non-equi join, and averages per k. */
object WindowRankingEvaluation {

  def evaluate(
      predictions: DataFrame,
      truth: DataFrame,
      userCol: String,
      itemCol: String,
      scoreCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), "ks must be positive")
    val spark = predictions.sparkSession
    import spark.implicits._
    val maxK = ks.max

    val u = col(userCol)
    val w = Window.partitionBy(u).orderBy(col(scoreCol).desc, col(itemCol))
    val ranked = predictions
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxK)
      .select(u.as("u"), col(itemCol).as("i"), col("rn"))

    val rel = truth.select(u.as("u"), col(itemCol).as("i")).distinct()
    val nrel = rel.groupBy("u").agg(count(lit(1)).as("nrel"))

    // Hit-flag + cumulative hits (for AP) on the top-maxK slice only.
    val cumW = Window.partitionBy("u").orderBy("rn")
    val hits = ranked
      .join(rel.withColumn("rel", lit(1)), Seq("u", "i"), "left")
      .na.fill(0, Seq("rel"))
      .withColumn("cumhits", sum("rel").over(cumW))

    // Fan out over cutoffs: rows (u, k, rn, rel, cumhits) with rn <= k.
    val ksDf = broadcast(ks.toDF("k"))
    val perUserK = nrel
      .crossJoin(ksDf)
      .join(hits.join(ksDf, col("rn") <= col("k"))
          .groupBy("u", "k")
          .agg(
            sum("rel").as("hits"),
            sum(col("rel") / log2(col("rn") + 1)).as("dcg"),
            sum(col("rel") * col("cumhits") / col("rn")).as("apnum")),
        Seq("u", "k"), "left")
      .na.fill(0, Seq("hits", "dcg", "apnum"))

    val m = least(col("nrel"), col("k")).cast("int")
    val idcg = aggregate(
      sequence(lit(1), m),
      lit(0.0),
      (acc, i) => acc + lit(1.0) / log2(i.cast("double") + 1))
    val p = col("hits") / col("k")
    val r = col("hits") / col("nrel")

    perUserK
      .withColumn("idcg", idcg)
      .groupBy("k")
      .agg(
        avg(p).as("precision_at"),
        avg(r).as("recall_at"),
        avg(when(col("hits") === 0, 0.0).otherwise(lit(2.0) * p * r / (p + r))).as("f1_at"),
        avg(col("dcg") / col("idcg")).as("ndcg_at"),
        avg(col("apnum") / m).as("map_at"))
      .orderBy("k")
  }
}
