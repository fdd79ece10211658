package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `cf_item_predict` enumerates each co-rated item pair once (i < j) and
  * mirrors the half table. The reference below is the construction it
  * replaced, which enumerates every ordered pair (i ≠ j); the two must be
  * the same set of (i, j, sim_u) rows both ways. */
class CfMirrorSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** The ordered-pair (i ≠ j) sims table `CmfQueries.itemSims` replaced. */
  private def orderedPairSims(rc: DataFrame): DataFrame = {
    val n2 = rc.groupBy("i").agg(sum(col("q") * col("q")).as("s2"))
    val a = rc.select(col("u"), col("i"), col("q"))
    val b = rc.select(col("u"), col("i").as("j"), col("q").as("qj"))
    a.join(b, Seq("u")).filter(col("i") =!= col("j"))
      .groupBy("i", "j").agg(sum(col("q") * col("qj")).as("dot"))
      .join(n2.select(col("i"), col("s2").as("s2i")), "i")
      .join(n2.select(col("i").as("j"), col("s2").as("s2j")), "j")
      .withColumn("sim_u",
        round(col("dot") / (sqrt(col("s2i")) * sqrt(col("s2j"))) * 1000000, 0)
          .cast("long"))
      .filter(col("sim_u") > 0)
      .select("i", "j", "sim_u")
  }

  test("mirrored i<j item sims equal the ordered i≠j table") {
    val rc = CmfQueries.coratedCapped(spark, dir)
    val reference = orderedPairSims(rc).localCheckpoint(true)
    val mirrored = CmfQueries.itemSims(spark, rc).localCheckpoint(true)
    assert(reference.count() > 0, "no co-rated item pairs at sf0.001")
    assert(reference.exceptAll(mirrored).count() === 0L)
    assert(mirrored.exceptAll(reference).count() === 0L)
  }
}
