package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration damped PageRank (Page et al. 1999) over an edge
  * list — the iterative-graph-compute pattern (beyond ALS's bipartite
  * special case): per iteration one join of the edge table against the
  * current rank vector and one grouped sum, exactly the
  * join-shuffle-agg shape everything else in this engine scales on.
  *
  * The fixed iteration count keeps the computation a finite, exactly
  * reproducible dataflow — an external checker can unroll the same
  * iterations — while convergence-threshold stopping would make the
  * result depend on float comparison order. Lineage is truncated per
  * iteration (localCheckpoint) so the plan stays iteration-depth-flat
  * at any scale.
  *
  * Contract: `edges` is the FULL directed edge set (symmetrize before
  * calling for an undirected graph); every node must have out-degree
  * ≥ 1 (true for symmetrized graphs — dangling-mass redistribution is
  * deliberately out of scope so the oracle stays a pure join chain).
  */
object PageRank {

  /** (v, p) ranks after `iterations` damped steps from the uniform
    * start over the nodes of `edges`. */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(damping > 0 && damping < 1, "damping in (0, 1)")
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("t")).transform(graft.Tables.checkpoint)
    val deg = e.groupBy("s").agg(count(lit(1)).as("d")).transform(graft.Tables.checkpoint)
    val n = deg.count().toDouble
    require(n > 0, "edge list is empty")
    // Degrees attach to the edge list ONCE outside the walk, and the
    // rank vector rides a row-count-gated broadcast per step (§3.1, same
    // shape as graph_ppr): post-checkpoint size estimates are unknown,
    // so each iteration otherwise plans sort-merge joins that re-shuffle
    // the edge list twice; with the hints exactly one exchange (the
    // groupBy(t) aggregation) remains per step. Both frames are
    // checkpointed, so the gating counts are metadata-cheap, and at a
    // scale past the broadcast limit the joins degrade to the old
    // shuffled form. Rank values are identical to the old sort-merge
    // loop's at 6 dp on both pagerank queries' edge sets; raw doubles
    // drift by a few ulps (PageRankEquivalenceSpec).
    val ed = e.join(graft.Tables.broadcastIfSmall(deg), "s")
    var p = deg.select(col("s").as("v"), lit(1.0 / n).as("p"))
    for (_ <- 1 to iterations) {
      p = ed.join(graft.Tables.broadcastIfSmall(p), col("s") === col("v"))
        .groupBy(col("t"))
        .agg(sum(col("p") / col("d")).as("m"))
        .select(col("t").as("v"),
          (lit((1 - damping) / n) + lit(damping) * col("m")).as("p"))
        .transform(graft.Tables.checkpoint)
    }
    p
  }
}
