package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration synchronous label propagation (Raghavan et al.'s
  * LPA) — community detection as iterated modal voting: every vertex
  * starts in its own community and repeatedly adopts the most frequent
  * label among its neighbors, ties broken by the smallest label. A
  * fixed iteration count with a pinned tie-break makes the usually
  * randomized algorithm fully deterministic (the same discipline as
  * the repo's fixed-iteration PageRank / BFS / k-core).
  *
  * Scale shape: one edge⋈label join + one count aggregation per
  * round — linear shuffles over the edge list, no driver-side graph —
  * and the per-vertex argmax runs through the bounded-heap
  * [[graft.plans.Graft.topKPerGroup]] operator (k = 1), so no
  * per-vertex sort window materializes anywhere.
  */
object LabelProp {

  /** Community label per vertex after `iters` synchronous rounds over
    * the undirected edge list (one row per pair; both orientations are
    * derived internally). Output: `v, community`. */
  def communities(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      iters: Int = 3): DataFrame = {
    val e = edges.select(col(aCol).as("ea"), col(bCol).as("eb"))
    val sym = e.select(col("ea").as("u"), col("eb").as("v"))
      .unionAll(e.select(col("eb").as("u"), col("ea").as("v")))
      .transform(graft.Tables.checkpoint)
    var labels = sym.select(col("u").as("lv")).distinct()
      .withColumn("lab", col("lv"))
    for (_ <- 1 to iters) {
      val counts = sym.join(labels, col("v") === col("lv"))
        .groupBy(col("u").as("cv"), col("lab"))
        .agg(count(lit(1)).as("c"))
      labels = graft.plans.Graft
        .topKPerGroup(counts, Seq("cv"), "c", 1,
          descending = true, tiebreak = Seq("lab"))
        .select(col("cv").as("lv"), col("lab"))
    }
    labels.select(col("lv").as("v"), col("lab").as("community"))
  }
}
