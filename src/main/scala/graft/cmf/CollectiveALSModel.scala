package graft.cmf

import org.apache.spark.HashPartitioner
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, SpecificInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.UnsafeRowSerializer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

/** Fitted collective-ALS model: one (id, features) factor DataFrame per
  * entity.
  *
  * `predict` gives the reference model's rows
  * (the reference implementation's `CollectiveALSModel.scala:43-67`:
  * the input plus the factor dot product as a float `prediction`, NaN for
  * cold-start ids), but looks the ids up in the factor blocks instead of
  * joining the factor tables onto it: the input is routed to the blocks
  * of a large table and reads a small one whole in every task. A fitted
  * model's tables are the fit's blocks, so its factors are never shuffled.
  * Ids are Long (no checked Int cast needed).
  *
  * `fitBlocks` marks a model whose factor tables the fit wrote one
  * partition per block, ids ascending; it is false for any other model
  * (loaded, or built over arbitrary frames).
  */
class CollectiveALSModel private[cmf] (
    val rank: Int,
    val factors: Seq[DataFrame],
    entityCols: Seq[String],
    var predictionCol: String,
    fitBlocks: Boolean) extends Serializable {
  import CollectiveALSModel._

  /** A model over any (id, features) frames, one per entity column. */
  def this(rank: Int, factors: Seq[DataFrame], entityCols: Seq[String], predictionCol: String = "prediction") =
    this(rank, factors, entityCols, predictionCol, false)

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

  /** Input rows + float `predictionCol` (replacing a column of that name,
    * as `withColumn` does): the dot product of the two ids' factors, summed
    * in double left to right and cast to float once, as
    * `array_dot(l, r).cast("float")` computes it; NaN where either id is
    * null or unseen. Ids are cast to long in Catalyst, so a non-numeric
    * string id fails under ANSI and is null without it.
    *
    * One job, and no job to build the frame. Each id is found by binary
    * search in its entity's factor blocks: the left factor first, carried
    * with the row, then the right one, where the row is scored. A table
    * that is one partition, or no larger than
    * `spark.sql.autoBroadcastJoinThreshold`, is read whole by every input
    * task, as a broadcast join would, and the input stays where it is. A
    * larger one is reached by routing the input to its blocks, in at least
    * `spark.sql.shuffle.partitions` tasks. A fitted model's tables are the
    * fit's blocks, so its factors are never shuffled; any other model's
    * large table is shuffled into blocks once per call, in the same job.
    *
    * The output is an RDD-backed frame, so Catalyst cannot prune its
    * columns: every input column travels through each routing shuffle, and
    * a caller that reads few of a wide input's columns should select them
    * before calling. Each factor table must hold one row per id, as a fit's
    * and a saved model's do: for a model built over other frames, a
    * duplicated id scores against one of its rows. */
  def predict(
      ds: DataFrame,
      leftEntity: String,
      rightEntity: String): DataFrame = {
    val (li, ri) = (indexOf(leftEntity), indexOf(rightEntity))
    val spark = ds.sparkSession
    val fields = ds.schema.fields
    val n = fields.length
    val name = predictionCol
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    val replaced = fields.map(f => if (caseSensitive) f.name == name else f.name.equalsIgnoreCase(name))
    // Output field i reads input field slots(i); -1 is the prediction.
    val slots = if (replaced.contains(true)) Array.tabulate(n)(i => if (replaced(i)) -1 else i)
      else Array.tabulate(n + 1)(i => if (i < n) i else -1)
    val predictionField = StructField(name, FloatType, nullable = false)
    val schema = StructType(slots.map(i => if (i < 0) predictionField else fields(i)))
    // A routed row is the input's n fields, its two ids (n, n + 1), then
    // the left factor (n + 2, null if unknown); the score follows it.
    def field(i: Int) = BoundReference(i, fields(i).dataType, fields(i).nullable)
    val withFactor = (0 until n).map(field) ++ Seq(
      BoundReference(n, LongType, nullable = true),
      BoundReference(n + 1, LongType, nullable = true),
      BoundReference(n + 2, ArrayType(FloatType, containsNull = false), nullable = true))
    val out = slots.toSeq.map(i => if (i < 0) BoundReference(n + 3, FloatType, nullable = false) else field(i))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val threshold = readWholeBytes(spark)
    val rows = graft.Tables.deferred(spark.sparkContext) {
      val input = ds.select(col("*"), ds(leftEntity).cast("long"), ds(rightEntity).cast("long"))
        .queryExecution.toRdd
      val withLeft = routeTo(input, n + 2, n, n + 1, blocksOf(li, threshold), parts)
        .mapPartitions { it =>
          val project = UnsafeProjection.create(withFactor)
          val factor = new SpecificInternalRow(Seq(ArrayType(FloatType, containsNull = false)))
          val joined = new JoinedRow
          it.map { case (r, b) =>
            factor.update(0, b.features(r, n))
            project(joined(r, factor)): InternalRow
          }
        }
      routeTo(withLeft, n + 3, n + 1, n, blocksOf(ri, threshold), parts)
        .mapPartitions { it =>
          val project = UnsafeProjection.create(out)
          val score = new SpecificInternalRow(Seq(FloatType))
          val joined = new JoinedRow
          it.map { case (r, b) =>
            val d = if (r.isNullAt(n + 2)) -1 else b.find(r, n + 1)
            score.setFloat(0, if (d < 0) Float.NaN else {
              val lf = r.getArray(n + 2).toFloatArray()
              dot(lf, 0, b.feats, b.from(d), math.min(lf.length, b.length(d))).toFloat
            })
            project(joined(r, score)): InternalRow
          }
        }
    }
    GraftSqlShim.internalCreateDataFrame(spark, rows, schema)
  }

  def predict(ds: DataFrame): DataFrame = predict(ds, cols(0), cols(1))

  /** Entity `e`'s factors as one [[CollectiveALSModel.FactorBlock]] per
    * partition, partition b holding block b. A table of one partition, or
    * of at most `broadcastBytes` ([[tableBytes]]), is one block of all its
    * rows; otherwise a fitted model's tables are their blocks as they are,
    * and any other model's rows are shuffled into as many blocks as the
    * table has partitions. Plans the factor table at once: call it inside
    * [[graft.Tables.deferred]]. */
  private def blocksOf(e: Int, broadcastBytes: Long): RDD[FactorBlock] = {
    val rows = idRows(e)
    val n = rows.getNumPartitions
    if (n == 1 || (n > 1 && tableBytes(e) <= broadcastBytes))
      rows.coalesce(1).mapPartitions(it => Iterator.single(FactorBlock(it)))
    else if (fitBlocks) rows.mapPartitions(it => Iterator.single(FactorBlock(it)))
    else {
      val nb = math.max(1, n)
      rows.map(x => (CollectiveALS.blockOf(x._1, nb), x))
        .partitionBy(new HashPartitioner(nb))
        .mapPartitions(it => Iterator.single(FactorBlock(it.map(_._2))))
    }
  }

  /** The size up to which a factor table is read whole:
    * `spark.sql.autoBroadcastJoinThreshold` in bytes, -1 when off. */
  private def readWholeBytes(spark: SparkSession): Long =
    spark.conf.get("spark.sql.autoBroadcastJoinThreshold").trim match {
      case s if s.startsWith("-") => -1L
      case s => JavaUtils.byteStringAsBytes(s)
    }

  /** Entity `e`'s table size in bytes, without a job: a fitted model's as
    * its checkpoint is stored, any other's as Catalyst estimates it (a
    * loaded model's parquet files), which is what a join would compare
    * with the broadcast threshold. */
  private def tableBytes(e: Int): BigInt =
    if (fitBlocks) {
      val id = graft.Tables.checkpoints(factors(e)).head.id
      factors(e).sparkSession.sparkContext.getRDDStorageInfo
        .filter(_.id == id).map(i => BigInt(i.memSize + i.diskSize)).sum
    } else factors(e).queryExecution.optimizedPlan.stats.sizeInBytes

  /** Fold-in: factors for `entity` ids NOT in the model (new users), each
    * solved against the FROZEN `srcEntity` factors from the supplied
    * ratings only: one half-step of the fit ([[CollectiveALS.halfStep]])
    * with the model's factors as the source, the standard way to serve a
    * cold user without refitting. λ·n (ALS-WR) regularization, Hu-Koren
    * confidence (with the Gram of the rated known src factors) and NNLS
    * are the fit's own code.
    *
    * Scale: no job to build the frame, one to compute it (implicit: a Gram
    * job first). Ratings of unknown src ids are dropped where they are
    * against a src table read whole, or after routing to its blocks; the
    * rest go into `spark.sql.shuffle.partitions` rating blocks of new ids
    * and nb·m of src ids (nb: the src table's blocks as [[predict]] reads
    * them; m = ⌈`spark.sql.shuffle.partitions` / nb⌉, so one block does
    * not serialize the batch). Src block p reads factor block p mod nb in
    * place and sends k floats per (src id, new-id block).
    *
    * Unknown (or null) src ids contribute nothing; an entity id with no
    * known src id yields no row. Duplicate ratings each count;
    * `ratingCol = ""` rates every row 1.0. A null entity id with a known
    * src id fails the job (a non-numeric one casts to null with ANSI off,
    * and fails in the cast with it on). Returns (id, features) shaped like
    * `factorsFor(entity)`; explicit and NNLS results are bitwise
    * reproducible whatever the partition counts.
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
    val si = indexOf(srcEntity)
    val spark = ratings.sparkSession
    val k = rank
    val rules = CollectiveALS.Rules(k, regParam, implicitPrefs, alpha, nonnegative)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val threshold = readWholeBytes(spark)
    val ratingExpr = if (ratingCol.nonEmpty) col(ratingCol).cast("float") else lit(1.0f)
    val selected = ratings.select(col(entity).cast("long"), col(srcEntity).cast("long"), ratingExpr)
    val rows = graft.Tables.deferred(spark.sparkContext) {
      val frozen = blocksOf(si, threshold)
      val nb = frozen.getNumPartitions
      val m = math.max(1, (parts + nb - 1) / nb)
      // Entity 0 is `entity`, entity 1 the source: blockOf(x, nb·m) mod nb
      // is blockOf(x, nb), so source block p reads factor block p mod nb.
      val g = new CollectiveALS.Geometry(Array((0, 1)), Array(parts, nb * m))
      val chunks = routeTo(selected.queryExecution.toRdd, 3, 1, 0, frozen, parts).mapPartitions { it =>
        val out = new CollectiveALS.ChunkBuffers(g)
        it.filter { case (r, b) => b.find(r, 1) >= 0 }.flatMap { case (r, _) =>
          require(!r.isNullAt(0), s"$entity ids must be numeric (cast to long produced null)")
          out.add(0, r.getLong(0), r.getLong(1), r.getFloat(2))
        } ++ out.flush()
      }
      val all = CollectiveALS.ratingBlocks(g, Seq(chunks))
      val (dst, src) = (g.layout(all, 0), g.layout(all, 1))
      val srcFactors = src.zipPartitions(copies(frozen, m)) { (bi, fi) =>
        val (b, f) = (bi.next(), fi.next())
        Iterator.single(b.ids.flatMap { id =>
          val at = f.indexOf(id)
          require(f.length(at) == k, s"feature length ${f.length(at)} != rank $k")
          f.feats.slice(f.from(at), f.from(at + 1))
        })
      }
      val solved = CollectiveALS.halfStep(g, Array(dst, src), Array(null, srcFactors), 0, rules)
      dst.zipPartitions(solved) { (bi, fi) =>
        val (b, f) = (bi.next(), fi.next())
        Iterator.tabulate(b.ids.length) { d =>
          new GenericInternalRow(Array[Any](b.ids(d),
            UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOfRange(f, d * k, d * k + k)))): InternalRow
        }
      }
    }
    GraftSqlShim.internalCreateDataFrame(spark, rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false)))))
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
    val (li, ri) = (indexOf(leftEntity), indexOf(rightEntity))
    val spark = factors.head.sparkSession
    val chunk = CollectiveALSModel.RightBlockIds
    val kk = k
    val lists = graft.Tables.deferred(spark.sparkContext) {
      val right = idRows(ri)
      val blocks = if (numBlocks > 0) right.coalesce(numBlocks, shuffle = true) else right
      val chunks = blocks.mapPartitions(_.grouped(chunk).map(c => (c.map(_._1).toArray, c.map(_._2).toArray)))
      val left = idRows(li)
      chunks.cartesian(if (numLeftBlocks > 0) left.coalesce(numLeftBlocks, shuffle = true) else left)
    }.map { case ((ids, feats), (lid, lf)) =>
      val top = new graft.TopKSlots(kk)
      var j = 0
      while (j < ids.length) {
        val f = feats(j)
        top.offer(ids(j), dot(lf, 0, f, 0, math.min(lf.length, f.length)).toFloat.toDouble)
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

  /** Entity `e`'s (id, features) pairs, features read as floats: a fitted
    * model's checkpoint rows as they are (already (id, features)), any
    * other table planned at once, so call it inside
    * [[graft.Tables.deferred]]. */
  private def idRows(e: Int): RDD[(Long, Array[Float])] = {
    val rows =
      if (fitBlocks) graft.Tables.checkpoints(factors(e)).head.asInstanceOf[RDD[InternalRow]]
      else factors(e).select(col("id").cast("long"), col("features").cast("array<float>")).queryExecution.toRdd
    rows.map(r => (r.getLong(0), r.getArray(1).toFloatArray()))
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

  /** Σ a(ai + d)·b(bi + d) over d < n, in double, left to right: the
    * `array_dot` of the two factor slices (without null elements), which
    * both scoring paths cast to float once. */
  private def dot(a: Array[Float], ai: Int, b: Array[Float], bi: Int, n: Int): Double = {
    var s = 0.0
    var d = 0
    while (d < n) { s += a(ai + d).toDouble * b(bi + d); d += 1 }
    s
  }

  /** One block of an entity's factors: `ids` ascending, the features of
    * `ids(d)` at `feats[from(d), from(d + 1))`. */
  private final class FactorBlock(ids: Array[Long], val from: Array[Int], val feats: Array[Float]) {
    def length(d: Int): Int = from(d + 1) - from(d)

    /** Index of the id in field `at` of `r`; negative if it is null or not
      * in this block. */
    def find(r: InternalRow, at: Int): Int =
      if (r.isNullAt(at)) -1 else indexOf(r.getLong(at))

    /** Index of `id`; negative if it is not in this block. */
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

    /** That id's features as an array value; null if it is null or not
      * here. */
    def features(r: InternalRow, at: Int): ArrayData = {
      val d = find(r, at)
      if (d < 0) null else UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOfRange(feats, from(d), from(d + 1)))
    }
  }

  private object FactorBlock {
    def apply(rows: Iterator[(Long, Array[Float])]): FactorBlock = {
      val sorted = rows.toArray.sortBy(_._1)
      new FactorBlock(sorted.map(_._1), sorted.map(_._2.length).scanLeft(0)(_ + _), Array.concat(sorted.map(_._2): _*))
    }
  }

  /** Each row of `rows` (UnsafeRows of `numFields` fields, as a physical
    * plan outputs them), paired with the block of `blocks` that holds the
    * id in field `at` (block 0 for a null id). The blocks never shuffle:
    * routed partition p reads block p mod nb through a narrow dependency
    * (a union of copies of `blocks`, each task building its own copy of its
    * block).
    *
    * With one block there is nothing to route: every row partition reads
    * the block in place, as a broadcast join would, and the rows do not
    * move. Otherwise the rows are shuffled once into nb·m partitions,
    * m = ⌈`parts` / nb⌉, so however few blocks there are the rows keep at
    * least `parts` tasks; the id in field `spread` picks which of a block's
    * m partitions a row goes to. The shuffle writes rows in Spark SQL's
    * exchange format ([[UnsafeRowSerializer]]); as in an exchange, each row
    * is serialized as it is written, so a reused row needs no copy. */
  private def routeTo(
      rows: RDD[InternalRow],
      numFields: Int,
      at: Int,
      spread: Int,
      blocks: RDD[FactorBlock],
      parts: Int): RDD[(InternalRow, FactorBlock)] = {
    val nb = blocks.getNumPartitions
    val routed = if (nb == 1) rows else {
      val m = math.max(1, (parts + nb - 1) / nb)
      def slot(r: InternalRow, i: Int, n: Int) = if (r.isNullAt(i)) 0 else CollectiveALS.blockOf(r.getLong(i), n)
      val keyed = rows.map(r => (slot(r, spread, m) * nb + slot(r, at, nb), r))
      new ShuffledRDD[Int, InternalRow, InternalRow](keyed, new HashPartitioner(nb * m))
        .setSerializer(new UnsafeRowSerializer(numFields))
        .values
    }
    routed.zipPartitions(copies(blocks, routed.getNumPartitions / nb)) { (it, bs) =>
      val b = bs.next()
      it.map(r => (r, b))
    }
  }

  /** `m` copies of `blocks` as one RDD, partition p holding block p mod nb:
    * nb·m tasks each build their own copy of one block, with no shuffle. */
  private def copies(blocks: RDD[FactorBlock], m: Int): RDD[FactorBlock] =
    blocks.context.union(Seq.fill(m)(blocks))

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
