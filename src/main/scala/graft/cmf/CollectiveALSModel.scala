package graft.cmf

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, LongType, StructField, StructType}

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

  def factorsFor(entity: String): DataFrame = factors(indexOf(entity))

  /** Unpersist the checkpoints of a fitted model's factor tables; the model
    * cannot be read afterwards. A loaded model reads parquet and holds none. */
  def release(): Unit = factors.foreach(graft.Tables.release)

  private def indexOf(entity: String): Int = cols.indexOf(entity) match {
    case -1 => throw new IllegalArgumentException(s"Unknown entity: $entity")
    case i  => i
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
    * (leftEntity, rightEntity, score, rank): score is the float
    * [[predict]] would give, ranked by score desc then right id asc — the
    * rows `row_number()` over that order would keep, computed without a
    * window or a sort.
    *
    * Both factor tables are read as they are partitioned (the fit writes
    * one partition per entity block); each right partition is a block,
    * streamed in chunks of at most [[CollectiveALSModel.RightBlockIds]]
    * ids. One task per (right partition, left partition) streams the left
    * partition once per chunk and keeps a k-slot top-k ([[graft.TopKSlots]])
    * per left id over the chunk; one bounded merge per left id
    * (`reduceByKey`) then joins the k·(chunks) candidates. Every
    * |left|×|right| score is computed (exact top-k), but only k rows per
    * (left id, chunk) ever leave a task, and a task holds one chunk
    * (RightBlockIds × rank floats) plus k slots. Building the frame runs
    * no job, whatever the factor tables' plans hold; materializing a
    * fitted model's is one.
    *
    * `numBlocks` > 0 spreads the right side over that many blocks and
    * `numLeftBlocks` > 0 the left side over that many partitions (each a
    * round-robin shuffle); the rows do not depend on either. */
  def recommendTopK(
      k: Int,
      leftEntity: String,
      rightEntity: String,
      numBlocks: Int = 0,
      numLeftBlocks: Int = 0): DataFrame = {
    require(k > 0, "k must be positive")
    // Unknown entities fail here, not in the first job.
    Seq(leftEntity, rightEntity).foreach(indexOf)
    val spark = factors.head.sparkSession
    val chunk = CollectiveALSModel.RightBlockIds
    val kk = k
    val lists = graft.Tables.deferred(spark.sparkContext) {
      val right = idRows(rightEntity)
      val blocks = if (numBlocks > 0) right.coalesce(numBlocks, shuffle = true) else right
      val chunks = blocks.mapPartitions(_.grouped(chunk).map(c => (c.map(_._1).toArray, c.map(_._2).toArray)))
      val left = idRows(leftEntity)
      chunks.cartesian(if (numLeftBlocks > 0) left.coalesce(numLeftBlocks, shuffle = true) else left)
    }.map { case ((ids, feats), (lid, lf)) =>
      val top = new graft.TopKSlots(kk)
      var j = 0
      while (j < ids.length) {
        // predict's array_dot: double products summed left to right.
        val f = feats(j)
        val n = math.min(lf.length, f.length)
        var s = 0.0
        var d = 0
        while (d < n) { s += lf(d).toDouble * f(d); d += 1 }
        top.offer(ids(j), s.toFloat.toDouble)
        j += 1
      }
      (lid, top)
    }
    val out = lists.reduceByKey((a, b) => a.merge(b), spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .flatMap { case (lid, top) =>
        Iterator.tabulate(top.size)(r => Row(lid, top.ids(r), top.scores(r).toFloat, r + 1))
      }
    spark.createDataFrame(out, StructType(Seq(
      StructField(leftEntity, LongType, nullable = false),
      StructField(rightEntity, LongType, nullable = false),
      StructField("score", FloatType, nullable = false),
      StructField("rank", IntegerType, nullable = false))))
  }

  /** `entity`'s (id, features) pairs. Plans the factor table at once:
    * call it inside [[graft.Tables.deferred]]. */
  private def idRows(entity: String): RDD[(Long, Array[Float])] =
    factorsFor(entity).select(col("id").cast("long"), col("features").cast("array<float>"))
      .queryExecution.toRdd.map(r => (r.getLong(0), r.getArray(1).toFloatArray()))

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

  /** Right ids per top-k block and per chunk a task holds: 100k ids is
    * 12.8 MB of factors at rank 32. */
  private[cmf] val RightBlockIds = 100000

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
