package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-depth breadth-first search over an edge list — the
  * shortest-hop companion to [[PageRank]]: per hop one join of the
  * current frontier against the edge table and one `min` re-aggregation
  * of the distance vector, the same join-shuffle-agg shape as every
  * other iterative operator here. The hop bound keeps the computation a
  * finite, exactly reproducible dataflow an external checker can unroll
  * (convergence stopping would hide the iteration count from the
  * oracle); lineage is truncated per hop so the plan stays flat.
  *
  * Contract: `edges` is the FULL directed edge set (symmetrize for an
  * undirected graph). Nodes unreached within `maxHops` are absent.
  */
object Bfs {

  /** (v, dist) minimum-hop distances from `source`, ≤ `maxHops` hops. */
  def distances(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      source: Long,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, "need at least one hop")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("t")).transform(graft.Tables.checkpoint)
    var dist = Seq((source, 0L)).toDF("v", "dist")
    for (k <- 1 to maxHops) {
      val next = dist.filter(col("dist") === (k - 1))
        .join(e, col("v") === col("s"))
        .select(col("t").as("v"), lit(k.toLong).as("dist"))
      dist = dist.unionAll(next)
        .groupBy("v").agg(min("dist").as("dist"))
        .transform(graft.Tables.checkpoint)
    }
    dist
  }
}
