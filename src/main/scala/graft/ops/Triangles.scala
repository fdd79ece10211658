package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-vertex triangle counting over an undirected edge list — the
  * local-clustering signal that separates dense near-duplicate
  * communities from chance pairwise hits (a vertex whose neighbors are
  * also mutual neighbors sits inside a real cluster; an isolated edge
  * does not).
  *
  * Contract: `edges` carries each undirected edge ONCE with
  * src < dst. Under that orientation the two-join enumeration yields
  * each triangle exactly once as a < b < c, so the work is bounded by
  * the wedge count of the (already-thresholded) edge list — never
  * |V|³, and no post-hoc dedup of permuted triangles is needed.
  */
object Triangles {

  /** (v, n_tri) per-vertex triangle memberships. Vertices on no
    * triangle are absent (count 0). The edge list is checkpointed once
    * so the three self-join branches never recompute its lineage. */
  def perVertex(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("t")).transform(graft.Tables.checkpoint)
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.t") === col("bc.s"))
      .join(e.as("ac"), col("ac.s") === col("ab.s") && col("ac.t") === col("bc.t"))
      .select(col("ab.s").as("a"), col("ab.t").as("b"), col("bc.t").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
  }

  /** (v, degree, n_tri, coeff) local clustering coefficient per vertex
    * of degree ≥ 2: n_tri / C(degree, 2) — 1.0 means the neighborhood
    * is a clique, 0.0 means no two neighbors touch. Vertices of degree
    * < 2 have no defined coefficient and are excluded. Degrees come
    * from one pass over the (oriented) edge list; triangle counts from
    * [[perVertex]]. */
  def localClustering(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("t")).transform(graft.Tables.checkpoint)
    val deg = e.select(col("s").as("v"))
      .unionAll(e.select(col("t").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(perVertex(e, "s", "t"), Seq("v"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("coeff",
        round(col("n_tri") * 2.0 / (col("degree") * (col("degree") - 1)), 6))
  }
}
