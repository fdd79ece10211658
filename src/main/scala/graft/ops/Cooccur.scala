package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket item co-occurrence with lift — the "items bought
  * together" / item-to-item neighbor table that complements the
  * factor-model recommender: no training, exact counts, directly
  * interpretable (lift > 1 means the pair co-occurs more than chance).
  *
  * Scale shape: the pair space is generated by a self-join on the
  * basket id, so work is Σ basket_size² — bounded by `maxBasketSize`
  * exactly as the shingle df cap bounds the dedup inverted index: a
  * degenerate basket holding half the catalog would otherwise emit a
  * quadratic pair blowup. Item marginals and the basket count are tiny
  * aggregates; the marginal join broadcasts when the catalog is small.
  */
object Cooccur {

  /** (item_a, item_b, n_ab, lift) over distinct (basket, item) pairs,
    * item_a < item_b, keeping pairs seen in at least `minCount`
    * baskets. lift = n_ab · N_baskets / (n_a · n_b). Baskets larger
    * than `maxBasketSize` distinct items are dropped whole. */
  def pairs(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minCount: Long = 2L,
      maxBasketSize: Int = 1000): DataFrame = {
    val b0 = df.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
    val sized = b0.groupBy("basket").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBasketSize)
    val b = b0.join(sized, "basket").select("basket", "item")
      .transform(graft.Tables.checkpoint)
    val nBaskets = b.select("basket").distinct().count()
    val marg = b.groupBy("item").agg(count(lit(1)).as("n_item"))
    b.as("x").join(b.as("y"),
        col("x.basket") === col("y.basket") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .join(marg.select(col("item").as("item_a"), col("n_item").as("n_a")), "item_a")
      .join(marg.select(col("item").as("item_b"), col("n_item").as("n_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("n_ab"),
        round(col("n_ab") * lit(nBaskets.toDouble) / (col("n_a") * col("n_b")), 6)
          .as("lift"))
  }

  /** Entity-to-entity Jaccard over shared item sets — the bipartite
    * projection (customers through parts, users through documents)
    * that finds behavioral twins. Items held by more than `maxItemDf`
    * entities are dropped BEFORE pairing — the hot-key cap that keeps
    * the inverted-index join sub-quadratic, same discipline as the
    * dedup shingle df cap; set sizes are measured on the capped item
    * space so Jaccard stays internally consistent.
    *
    * Returns (entity_a, entity_b, shared, jaccard), entity_a <
    * entity_b, keeping pairs with `shared` ≥ `minShared`.
    */
  def jaccardBySharedItems(
      df: DataFrame,
      entityCol: String,
      itemCol: String,
      maxItemDf: Int = 1000,
      minShared: Long = 2L): DataFrame = {
    val ei = df.select(col(entityCol).as("entity"), col(itemCol).as("item"))
      .distinct()
    val cold = ei.groupBy("item").agg(count(lit(1)).as("idf"))
      .filter(col("idf") <= maxItemDf)
    val kept = ei.join(cold.select("item"), "item")
      .transform(graft.Tables.checkpoint)
    val sizes = kept.groupBy("entity").agg(count(lit(1)).as("sz"))
    kept.as("x").join(kept.as("y"),
        col("x.item") === col("y.item") && col("x.entity") < col("y.entity"))
      .groupBy(col("x.entity").as("entity_a"), col("y.entity").as("entity_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(sizes.select(col("entity").as("entity_a"), col("sz").as("sz_a")), "entity_a")
      .join(sizes.select(col("entity").as("entity_b"), col("sz").as("sz_b")), "entity_b")
      .select(col("entity_a"), col("entity_b"), col("shared"),
        round(col("shared").cast("double") / (col("sz_a") + col("sz_b") - col("shared")), 6)
          .as("jaccard"))
  }
}
