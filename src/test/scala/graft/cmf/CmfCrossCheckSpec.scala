package graft.cmf

import graft.SparkSpec
import org.apache.spark.ml.recommendation.{ALS => MlAls}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank-agreement certificate for the COLLECTIVE (≥3-entity) fit — the
  * round-14 verdict's remaining spec-tier gap: `cmf_fit_predict` /
  * `cmf_implicit` had shape audits but no analogue of the per-user rank
  * certificate [[AlsCrossCheckSpec]] gives the 2-entity fits.
  *
  * The fixture makes the certificate well-posed: user/item/supp latent
  * factors are drawn once, the primary relation (user→item) AND the side
  * relation (item→supp) are both generated from the SAME item factors,
  * so the side information is exactly consistent with the primary signal
  * — a correct collective solve (per-relation normal-equation / Gram
  * merge on the shared item entity) can fit both relations at once and
  * must leave each user's item ORDER agreeing with what MLlib ALS
  * recovers from the primary relation alone. A defect in the shared-
  * entity merge (wrong relation picked up in a solve, mask applied to
  * the wrong Gram, factor columns crossed between relations) breaks that
  * agreement loudly while still possibly passing the coverage/shape
  * audits. MLlib is a second solver, not a mirror: no code or formula is
  * shared with `graft.cmf`. */
class CmfCrossCheckSpec extends SparkSpec {
  import spark.implicits._

  private val trueRank = 4
  private val nUsers = 120
  private val nItems = 40
  private val nSupps = 20

  private def fu(u: Int) = PlantedFactors.signedFactor(1L, u, trueRank)
  private def fi(i: Int) = PlantedFactors.signedFactor(2L, i, trueRank)
  private def fs(p: Int) = PlantedFactors.signedFactor(3L, p, trueRank)
  private def dot(a: Array[Float], b: Array[Float]): Float =
    a.zip(b).map { case (x, y) => x * y }.sum

  /** ~50%-observed exact rank-4 primary relation, same generator family
    * as [[AlsCrossCheckSpec]]. */
  private lazy val ratings: DataFrame = (for {
    u <- 0 until nUsers
    i <- 0 until nItems
    if CollectiveALS.splitmix64(u * 10007L + i) % 2 == 0
  } yield (u.toLong, i.toLong, dot(fu(u), fi(i)) * 5.0f))
    .toDF("user", "item", "rating")

  /** Side relation from the SAME item factors — consistent by
    * construction, so collective fitting has a common exact solution. */
  private lazy val side: DataFrame = (for {
    i <- 0 until nItems
    p <- 0 until nSupps
    if CollectiveALS.splitmix64(i * 7919L + p) % 2 == 0
  } yield (i.toLong, p.toLong, dot(fi(i), fs(p)) * 5.0f))
    .toDF("item", "supp", "rating")

  private lazy val grid: DataFrame =
    (for { u <- 0 until nUsers; i <- 0 until nItems }
      yield (u.toLong, i.toLong)).toDF("user", "item")

  /** Mean per-user Spearman rho + mean top-5 overlap between two score
    * columns over the full user×item grid (the same statistic as the
    * implicit certificate in [[AlsCrossCheckSpec]]). */
  private def rankAgreement(scored: DataFrame, a: String, b: String)
      : (Double, Double) = {
    val wa = Window.partitionBy("user").orderBy(col(a), col("item"))
    val wb = Window.partitionBy("user").orderBy(col(b), col("item"))
    val rks = scored
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
    val rho = rks.groupBy("user")
      .agg(count(lit(1)).as("n"),
        sum((col("ra") - col("rb")) * (col("ra") - col("rb"))).as("d2"))
      .select(avg(lit(1.0) - lit(6.0) * col("d2")
        / (col("n") * (col("n") * col("n") - lit(1.0)))))
      .head.getDouble(0)
    val overlap = rks
      .filter(col("ra") > nItems - 5 || col("rb") > nItems - 5)
      .groupBy("user")
      .agg(sum(when(col("ra") > nItems - 5 && col("rb") > nItems - 5, 1)
        .otherwise(0)).as("both"))
      .select(avg(col("both") / lit(5.0)))
      .head.getDouble(0)
    (rho, overlap)
  }

  test("explicit collective fit rank-agrees with MLlib on the primary relation") {
    val cmf = new CollectiveALS("user", "item", "supp")
      .setRank(4).setMaxIter(12).setRegParam(0.001).setSeed(7L)
      .fit(("user", "item") -> ratings, ("item", "supp") -> side)
    // Certificate 1: the collective solve fits BOTH relations at once —
    // possible only if the shared item factors serve both normal systems.
    def rmse(scored: DataFrame): Double = math.sqrt(scored
      .select(avg(pow(col("prediction") - col("rating"), 2)))
      .head.getDouble(0))
    val rmse1 = rmse(cmf.predict(ratings, "user", "item"))
    val rmse2 = rmse(cmf.predict(side, "item", "supp"))
    info(s"collective train rmse: primary $rmse1, side $rmse2")
    assert(rmse1 < 0.05, s"primary-relation train rmse $rmse1")
    assert(rmse2 < 0.05, s"side-relation train rmse $rmse2")
    // Certificate 2: per-user item ranking over the FULL grid agrees
    // with MLlib ALS trained on the primary relation alone.
    val ml = new MlAls()
      .setRank(4).setMaxIter(12).setRegParam(0.001).setSeed(7L)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .fit(ratings)
    val scored = cmf.predict(grid, "user", "item")
      .select(col("user"), col("item"), col("prediction").as("pg"))
      .join(ml.transform(grid)
        .select(col("user"), col("item"), col("prediction").as("pm")),
        Seq("user", "item"))
      .cache()
    val (rho, overlap) = rankAgreement(scored, "pg", "pm")
    info(s"explicit collective rank agreement: mean per-user Spearman " +
      s"$rho, mean top-5 overlap $overlap")
    // Both solvers near-interpolate exact rank-4 data, so grid rankings
    // nearly coincide (decorrelated baselines: rho ~ 0, overlap 0.125).
    // Floors at measured-minus-margin.
    assert(rho > 0.9, s"mean per-user Spearman rho $rho")
    assert(overlap > 0.8, s"mean top-5 overlap $overlap")
  }

  test("implicit collective fit rank-agrees with MLlib on the primary relation") {
    val obs = (for {
      u <- 0 until nUsers
      i <- 0 until nItems
      if dot(fu(u), fi(i)) > 0
    } yield (u.toLong, i.toLong, 1.0f)).toDF("user", "item", "rating")
    val sideObs = (for {
      i <- 0 until nItems
      p <- 0 until nSupps
      if dot(fi(i), fs(p)) > 0
    } yield (i.toLong, p.toLong, 1.0f)).toDF("item", "supp", "rating")
    val cmf = new CollectiveALS("user", "item", "supp")
      .setRank(4).setMaxIter(10).setRegParam(0.05).setAlpha(10.0)
      .setImplicitPrefs(true).setSeed(7L)
      .fit(("user", "item") -> obs, ("item", "supp") -> sideObs)
    val ml = new MlAls()
      .setRank(4).setMaxIter(10).setRegParam(0.05).setAlpha(10.0)
      .setImplicitPrefs(true).setSeed(7L)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .fit(obs)
    val scored = cmf.predict(grid, "user", "item")
      .select(col("user"), col("item"), col("prediction").as("pg"))
      .join(ml.transform(grid)
        .select(col("user"), col("item"), col("prediction").as("pm")),
        Seq("user", "item"))
      .join(obs.select(col("user"), col("item"), lit(1).as("pos")),
        Seq("user", "item"), "left")
      .withColumn("pos", coalesce(col("pos"), lit(0)))
      .cache()
    // AUC parity: the implicit objective determines preference ORDER, so
    // both solvers must separate observed from unobserved equally well —
    // the Gram-mask-merge path gets the same gate MLlib passes.
    def auc(scoreCol: String): Double = {
      val ranked = scored.withColumn("rk",
        row_number().over(Window.orderBy(col(scoreCol), col("user"), col("item"))))
      val a = ranked.agg(
        sum(when(col("pos") === 1, col("rk"))).as("rs"),
        sum(col("pos")).as("np"), count(lit(1)).as("n")).head
      val (rs, np, n) = (a.getLong(0), a.getLong(1), a.getLong(2))
      (rs.toDouble - np.toDouble * (np + 1) / 2) / (np.toDouble * (n - np))
    }
    val (ag, am) = (auc("pg"), auc("pm"))
    info(s"implicit collective AUC: graft $ag, mllib $am")
    assert(ag > 0.9, s"collective implicit AUC $ag")
    assert(am > 0.9, s"mllib implicit AUC $am")
    assert(math.abs(ag - am) < 0.03, s"graft AUC $ag vs mllib AUC $am")
    val (rho, overlap) = rankAgreement(scored, "pg", "pm")
    info(s"implicit collective rank agreement: mean per-user Spearman " +
      s"$rho, mean top-5 overlap $overlap")
    // Same floor rationale as AlsCrossCheckSpec's implicit certificate:
    // bounded below 1 by between-solver extrapolation on the unobserved
    // region, far above the decorrelated baselines (rho ~ 0, 0.125).
    assert(rho > 0.6, s"mean per-user Spearman rho $rho")
    assert(overlap > 0.45, s"mean top-5 overlap $overlap")
  }
}
