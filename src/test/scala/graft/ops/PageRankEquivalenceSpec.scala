package graft.ops

import graft.{SparkSpec, Tables}
import graft.queries.DedupSimQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `PageRank.run` attaches degrees once and broadcasts the rank vector
  * each step. The reference below is the per-step sort-merge loop it
  * replaced. Their per-key double sums may land a few ulps apart, so the
  * ranks must agree at 6 dp, on the edge sets of both pagerank queries. */
class PageRankEquivalenceSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** The loop `PageRank.run` replaced: both joins shuffled every step. */
  private def sortMergeLoop(edges: DataFrame, iterations: Int, damping: Double): DataFrame = {
    val e = edges.select(col("s").cast("long").as("s"),
      col("t").cast("long").as("t")).localCheckpoint(true)
    val deg = e.groupBy("s").agg(count(lit(1)).as("d")).localCheckpoint(true)
    val n = deg.count().toDouble
    var p = deg.select(col("s").as("v"), lit(1.0 / n).as("p"))
    for (_ <- 1 to iterations) {
      p = e.join(p, col("s") === col("v"))
        .join(deg, "s")
        .groupBy(col("t"))
        .agg(sum(col("p") / col("d")).as("m"))
        .select(col("t").as("v"),
          (lit((1 - damping) / n) + lit(damping) * col("m")).as("p"))
        .localCheckpoint(true)
    }
    p
  }

  private def symmetric(fwd: DataFrame): DataFrame =
    fwd.unionAll(fwd.select(col("t").as("s"), col("s").as("t")))

  private val edgeSets: Seq[(String, () => DataFrame)] = Seq(
    "banded" -> (() => symmetric(DedupSimQueries.bandedCosinePairs(spark, dir, 0.4)
      .select(col("vec_id_a").as("s"), col("vec_id_b").as("t")))),
    "knn" -> (() => {
      val topk = DedupSimQueries.embIvfIndex(spark, dir)
        .search(Tables.embeddings(spark, dir), "vec_id", "embedding", 5, 32)
      symmetric(topk.select(col("query_id").as("s"), col("neighbor_id").as("t"))).distinct()
    }))

  for ((name, edges) <- edgeSets)
    test(s"PageRank.run equals the sort-merge loop at 6 dp on the $name edges") {
      val ed = edges().localCheckpoint(true)
      assert(ed.count() > 0, s"no $name edges at sf0.001")
      def rounded(p: DataFrame) = p.select(col("v"), round(col("p"), 6).as("r"))
        .localCheckpoint(true)
      val reference = rounded(sortMergeLoop(ed, 5, 0.85))
      val broadcastForm = rounded(PageRank.run(ed, "s", "t", 5))
      assert(reference.exceptAll(broadcastForm).count() === 0L)
      assert(broadcastForm.exceptAll(reference).count() === 0L)
    }
}
