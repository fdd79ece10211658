package graft.cmf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fitted collective-ALS model: one (id, features) factor DataFrame per
  * entity.
  *
  * `predict` mirrors the reference model
  * (`/root/reference/src/main/scala/com/github/jongwook/cmf/CollectiveALSModel.scala:43-67`):
  * left-join both entities' factor tables onto the input and emit the
  * factor dot product as a float `prediction`, NaN for cold-start ids —
  * but the dot product is a native codegen'd `aggregate(zip_with(...))`
  * expression rather than a UDF, and ids are Long (no checked Int cast
  * needed).
  */
class CollectiveALSModel(
    val rank: Int,
    val factors: Seq[DataFrame],
    entityCols: Seq[String],
    var predictionCol: String = "prediction") extends Serializable {

  private val cols: Array[String] = entityCols.toArray
  require(cols.length == factors.length, "one entity column per factor table")

  def userCol: String = cols(0)
  def itemCol: String = cols(1)
  def entityCol(index: Int): String = cols(index)
  def setPredictionCol(value: String): this.type = { predictionCol = value; this }
  def setUserCol(value: String): this.type = { cols(0) = value; this }
  def setItemCol(value: String): this.type = { cols(1) = value; this }
  def setEntityCol(index: Int, value: String): this.type = { cols(index) = value; this }
  def setEntityCols(values: Seq[String]): this.type = {
    require(values.length == cols.length, s"expected ${cols.length} entity columns")
    values.zipWithIndex.foreach { case (v, i) => cols(i) = v }
    this
  }

  def factorsFor(entity: String): DataFrame = cols.indexOf(entity) match {
    case -1 => throw new IllegalArgumentException(s"Unknown entity: $entity")
    case i  => factors(i)
  }

  /** Factor-table row counts, cached per entity *index* (stable under
    * column renames): adaptive block sizing reads these on every
    * `recommendTopK` call, and a count job per serving call would be a
    * full extra pass over the factor table. */
  private val countCache = scala.collection.concurrent.TrieMap.empty[Int, Long]
  private def entityCount(entity: String): Long = {
    val i = cols.indexOf(entity)
    require(i >= 0, s"Unknown entity: $entity")
    countCache.getOrElseUpdate(i, factors(i).count())
  }

  /** Native fused dot ([[graft.functions.ArrayDot]]); registered by
    * GraftSession — [[graft.functions.register]] re-registers idempotently
    * for sessions built elsewhere. */
  private def dot(l: Column, r: Column): Column = {
    graft.functions.register(factors.head.sparkSession)
    graft.functions.array_dot(l, r)
  }

  /** Input rows + float `predictionCol`; NaN where either id is unseen. */
  def predict(
      ds: DataFrame,
      leftEntity: String,
      rightEntity: String): DataFrame = {
    val lf = factorsFor(leftEntity)
      .select(col("id").as("__graft_lid"), col("features").as("__graft_lf"))
    val rf = factorsFor(rightEntity)
      .select(col("id").as("__graft_rid"), col("features").as("__graft_rf"))
    ds.join(lf, ds(leftEntity).cast("long") === col("__graft_lid"), "left")
      .join(rf, ds(rightEntity).cast("long") === col("__graft_rid"), "left")
      .withColumn(predictionCol,
        coalesce(dot(col("__graft_lf"), col("__graft_rf")).cast("float"), lit(Float.NaN)))
      .drop("__graft_lid", "__graft_lf", "__graft_rid", "__graft_rf")
  }

  def predict(ds: DataFrame): DataFrame = predict(ds, cols(0), cols(1))

  /** Fold-in: factors for `entity` ids NOT in the model (new users), each
    * solved against the FROZEN `srcEntity` factors from the supplied
    * ratings only — one half-iteration of ALS restricted to the new rows,
    * the standard way to serve a cold user without refitting. Uses the
    * estimator's normal-equation rules ([[NormalEqAggregator]]) and
    * solvers, so λ·n (ALS-WR) regularization, Hu-Koren implicit
    * confidence (with the observed-src-restricted YtY Gram), and the NNLS
    * option all behave exactly as in `fit`.
    *
    * Scale: one shuffle-hash join of the new ratings against the frozen
    * src factor table + one groupBy(id) with map-side partial normal-
    * equation aggregation, then a per-partition k×k solve. Cost is
    * proportional to the NEW ratings — the training corpus is never
    * touched — so folding in a day's signups against a billion-item
    * factor table is a routine incremental job.
    *
    * Ratings whose src id is unseen by the model contribute nothing
    * (inner join); an entity id none of whose src ids are known yields no
    * row. Returns (id, features) shaped like `factorsFor(entity)`.
    */
  def foldIn(
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
    val src = factorsFor(srcEntity)
    val ratingExpr =
      if (ratingCol.nonEmpty) col(ratingCol).cast("float") else lit(1.0f)
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
    // Implicit mode: the r=0 baseline Gram over the src factors actually
    // rated by the fold-in batch (the estimator's per-relation
    // srcFactorBlock restriction, here with a single implied relation).
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
        val solver: LeastSquaresSolver =
          if (nn) new NnlsSolver(k) else new CholeskySolver(k)
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

  /** Top-k right-entity recommendations per left-entity id, as rows
    * (leftEntity, rightEntity, score, rank).
    *
    * Blocked on BOTH sides (MLlib `recommendForAll` shape) — never
    * materializes the |left|×|right| cross product, and never replicates
    * individual left *rows* per right block: both factor tables group
    * into hash blocks (arrays), the cross join runs over block×block
    * pairs (|leftBlocks|·|rightBlocks| rows — at 1B×1B ids that is ~10⁹
    * block rows, where one-sided blocking would push 10¹³ replicated
    * left rows through the shuffle), a per-partition primitive loop
    * selects each left id's block-local top-k (the dot-product hot loop
    * is the one place where native array expressions lose an order of
    * magnitude to scratch arithmetic), and only k·numBlocks candidate
    * rows per left id survive to the final per-id window.
    *
    * `numBlocks`/`numLeftBlocks` <= 0 (default) size blocks adaptively
    * to ~100k right / ~10k left ids per block — each block row stays a
    * few MB regardless of table size (a fixed block count would overflow
    * Spark's single-record limits at billion-id scale). */
  def recommendTopK(
      k: Int,
      leftEntity: String,
      rightEntity: String,
      numBlocks: Int = 0,
      numLeftBlocks: Int = 0): DataFrame = {
    require(k > 0)
    require(cols.contains(leftEntity), s"Unknown entity: $leftEntity")
    val spark = factors.head.sparkSession
    import spark.implicits._
    val rn =
      if (numBlocks > 0) numBlocks
      else math.min(65536L,
        math.max(32L, entityCount(rightEntity) / 100000L + 1)).toInt
    val ln =
      if (numLeftBlocks > 0) numLeftBlocks
      else math.min(1048576L,
        math.max(32L, entityCount(leftEntity) / 10000L + 1)).toInt
    val userBlocks = factorsFor(leftEntity)
      .groupBy(pmod(xxhash64(col("id")), lit(ln)).as("ublk"))
      .agg(collect_list(struct(col("id").as("_1"), col("features").as("_2"))).as("us"))
      .select("us")
    val itemBlocks = factorsFor(rightEntity)
      .groupBy(pmod(xxhash64(col("id")), lit(rn)).as("blk"))
      .agg(collect_list(struct(col("id").as("_1"), col("features").as("_2"))).as("items"))
      .select("items")
    val kk = k
    val cand = userBlocks.crossJoin(itemBlocks)
      .as[(Seq[(Long, Array[Float])], Seq[(Long, Array[Float])])]
      .mapPartitions { it =>
        it.flatMap { case (us, items) =>
          us.iterator.flatMap { case (uid, uf) =>
            // Block-local top-k by (score desc, id asc): insertion into
            // fixed k-slots — O(|block|·k) comparisons, no allocation.
            val ids = new Array[Long](kk)
            val scores = new Array[Double](kk)
            var filled = 0
            items.foreach { case (iid, ifeat) =>
              var s = 0.0
              var j = 0
              while (j < uf.length) { s += uf(j) * ifeat(j); j += 1 }
              var p = filled
              while (p > 0 && (scores(p - 1) < s ||
                  (scores(p - 1) == s && ids(p - 1) > iid))) p -= 1
              if (p < kk) {
                val last = math.min(filled, kk - 1)
                var m = last
                while (m > p) { ids(m) = ids(m - 1); scores(m) = scores(m - 1); m -= 1 }
                ids(p) = iid
                scores(p) = s
                if (filled < kk) filled += 1
              }
            }
            (0 until filled).map(x => (uid, ids(x), scores(x).toFloat))
          }
        }
      }.toDF(leftEntity, rightEntity, "score")
    val w = Window.partitionBy(leftEntity).orderBy(col("score").desc, col(rightEntity))
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  def recommendTopK(k: Int): DataFrame = recommendTopK(k, cols(0), cols(1))

  /** Persist the model: one parquet factor table per entity plus a JSON
    * meta row (rank, entity columns, prediction column). Factor tables
    * write with their natural partitioning — no coalesce, so a
    * billion-user model writes in parallel. */
  def save(path: String): Unit = {
    val spark = factors.head.sparkSession
    import spark.implicits._
    factors.zipWithIndex.foreach { case (f, i) =>
      f.write.mode("overwrite").parquet(s"$path/factors_$i")
    }
    Seq((rank, cols.toSeq, predictionCol))
      .toDF("rank", "entityCols", "predictionCol")
      .coalesce(1).write.mode("overwrite").json(s"$path/meta")
  }
}

object CollectiveALSModel {

  /** Load a model written by [[CollectiveALSModel.save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): CollectiveALSModel = {
    val meta = spark.read.json(s"$path/meta").head()
    val entityCols = meta.getSeq[String](meta.fieldIndex("entityCols")).toList
    val rank = meta.getAs[Long]("rank").toInt
    val factors = entityCols.indices.map(i => spark.read.parquet(s"$path/factors_$i"))
    new CollectiveALSModel(rank, factors, entityCols,
      meta.getAs[String]("predictionCol"))
  }
}
