package graft.cmf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-only reference for [[CollectiveALSModel.foldIn]]: the earlier
  * pipeline, kept as the definition the half-step rewrite is proven
  * against (`FoldInEquivalenceSpec`). It inner-joins the ratings onto the
  * source factor table, builds one normal equation per new id with the
  * [[NormalEqAggregator]] `udaf`, adds the Gram of the rated source factors
  * (a second aggregation, run while the frame is built) in implicit mode,
  * and solves each equation. */
object AggregatorFoldIn {

  def foldIn(
      model: CollectiveALSModel,
      ratings: DataFrame,
      entity: String,
      srcEntity: String,
      ratingCol: String = "rating",
      regParam: Double = 0.1,
      implicitPrefs: Boolean = false,
      alpha: Double = 1.0,
      nonnegative: Boolean = false): DataFrame = {
    val spark = ratings.sparkSession
    import spark.implicits._
    val rank = model.rank
    val src = model.factorsFor(srcEntity)
    val ratingExpr = if (ratingCol.nonEmpty) col(ratingCol).cast("float") else lit(1.0f)
    val data = ratings.select(
      col(entity).cast("long").as("id"),
      col(srcEntity).cast("long").as("srcId"),
      ratingExpr.as("rating"))
    val neUdaf = udaf(new NormalEqAggregator(rank, implicitPrefs, alpha))
    val f = src.hint("shuffle_hash")
    val grouped = data.join(f, data("srcId") === f("id"))
      .select(data("id").as("id"), f("features").as("features"), col("rating"))
      .groupBy("id")
      .agg(neUdaf(col("features"), col("rating"), lit(0)).as("ne"))
    val yty: Option[Array[Double]] =
      if (!implicitPrefs) None
      else {
        val gramUdaf = udaf(new NormalEqAggregator(rank, false, 1.0))
        Some(src
          .join(data.select(col("srcId").as("id")), Seq("id"), "left_semi")
          .agg(gramUdaf(col("features"), lit(0.0f), lit(0)).as("ne"))
          .select(col("ne.ata")).head.getSeq[Double](0).toArray)
      }
    val k = rank; val nn = nonnegative; val reg = regParam
    val ytyB = spark.sparkContext.broadcast(yty)
    grouped
      .select(col("id"), col("ne.ata"), col("ne.atb"), col("ne.n"))
      .as[(Long, Array[Double], Array[Double], Long)]
      .mapPartitions { it =>
        val solver: LeastSquaresSolver = if (nn) new NnlsSolver(k) else new CholeskySolver(k)
        it.map { case (id, ata, atb, n) =>
          ytyB.value.foreach { g =>
            var i = 0
            while (i < ata.length) { ata(i) += g(i); i += 1 }
          }
          (id, solver.solve(ata, atb, n * reg))
        }
      }
      .toDF("id", "features")
  }
}
