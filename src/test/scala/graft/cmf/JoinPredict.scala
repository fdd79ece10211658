package graft.cmf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-only reference for [[CollectiveALSModel.predict]]: the earlier
  * pipeline, kept as the definition the block-routed rewrite is proven
  * against (`PredictEquivalenceSpec`). It left-joins both entities' factor
  * tables onto the input on the ids cast to long and adds
  * `coalesce(array_dot(l, r).cast("float"), NaN)` with `withColumn`. */
object JoinPredict {

  def predict(model: CollectiveALSModel, ds: DataFrame, leftEntity: String, rightEntity: String): DataFrame = {
    graft.functions.register(ds.sparkSession)
    val lf = model.factorsFor(leftEntity)
      .select(col("id").as("__graft_lid"), col("features").as("__graft_lf"))
    val rf = model.factorsFor(rightEntity)
      .select(col("id").as("__graft_rid"), col("features").as("__graft_rf"))
    ds.join(lf, ds(leftEntity).cast("long") === col("__graft_lid"), "left")
      .join(rf, ds(rightEntity).cast("long") === col("__graft_rid"), "left")
      .withColumn(model.predictionCol,
        coalesce(graft.functions.array_dot(col("__graft_lf"), col("__graft_rf")).cast("float"), lit(Float.NaN)))
      .drop("__graft_lid", "__graft_lf", "__graft_rid", "__graft_rf")
  }

  def predict(model: CollectiveALSModel, ds: DataFrame): DataFrame =
    predict(model, ds, model.userCol, model.itemCol)
}
