package graft.cmf

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Collective Matrix Factorization: ALS generalized to N entity types
  * connected by M rating relations that share entity factor matrices.
  *
  * Same fit semantics as the reference estimator
  * (`/root/reference/src/main/scala/com/github/jongwook/cmf/CollectiveALS.scala:94-133`):
  * multi-relation `fit(("user","item") -> r1, ("item","tag") -> r2)`,
  * explicit and implicit (Hu-Koren) preferences, per-relation
  * normal-equation merge, λ·n ALS-WR regularization, optional NNLS — and
  * the reference's blocked communication pattern (RatingBlock →
  * InBlock/OutBlock; Zhou et al. 2008):
  *
  *  - once per fit, every relation's rating rows are shuffled into the
  *    blocks of both of its entities ([[CollectiveALS.Block]]): each block
  *    holds its ids' incident ratings sorted by (dst, relation, src) in
  *    primitive arrays (the in-block), and for every relation side where
  *    the entity is the source, which destination blocks need which of
  *    its ids (the out-routes). The upstream rating pipeline runs once;
  *  - per half-iteration, for entity e: each source block sends each
  *    needed factor once per (src id, dst block) — the id plus k floats —
  *    and each destination block builds every normal equation locally,
  *    one destination at a time in O(k²) memory, and solves it
  *    ([[CholeskySolver]] / [[NnlsSolver]]). Normal equations never cross
  *    the wire: the half-step shuffles only factors, which is the ALS
  *    communication lower bound;
  *  - the block counts are explicit partitioners, so a fit never touches
  *    the session conf and concurrent fits on one session need no lock;
  *  - the fixed summation order (sorted in-blocks, per-block Gram partials
  *    summed in block order) makes a fit bitwise reproducible for a given
  *    seed and block geometry;
  *  - factor lineage is truncated with eager local checkpoints.
  *
  * Scale notes (100 TB): ratings are never collected or crossed. Per
  * half-step the shuffle is |factor ids| × (fan-out to destination blocks)
  * × (8 + 4k) bytes, independent of the rating count; the equation work
  * per block is proportional to its ratings. A power-law id lands all of
  * its ratings in one block — blocks are hash-sized, not degree-balanced.
  * Ids are Long end-to-end (the reference caps at Int).
  */
class CollectiveALS(entityNames: String*) extends Serializable {
  import CollectiveALS._

  private val cols: Array[String] = entityNames.size match {
    case 0 => Array("user", "item")
    case 1 => throw new IllegalArgumentException("There should be at least 2 entities")
    case _ => entityNames.toArray
  }

  var rank: Int = 10
  var maxIter: Int = 10
  var regParam: Double = 0.1
  var implicitPrefs: Boolean = false
  var alpha: Double = 1.0
  var nonnegative: Boolean = false
  var ratingCol: String = "rating"
  var predictionCol: String = "prediction"
  var seed: Long = this.getClass.getName.hashCode.toLong
  /** Optional explicit block count for every entity (the reference's
    * `setNumBlocks`). Default: sized to the data. */
  var numPartitions: Option[Int] = None
  /** Per-entity overrides of [[numPartitions]] (reference:
    * `setNumBlocks(index, value)`), keyed by entity index. */
  val numPartitionsPerEntity: scala.collection.mutable.Map[Int, Int] =
    scala.collection.mutable.Map.empty
  /** Truncate factor lineage (eager localCheckpoint) every this many
    * iterations; off-interval factors are eagerly persisted at
    * [[intermediateStorageLevel]]. 1 (default) = every half-step. */
  var checkpointInterval: Int = 1
  /** Storage level for in-loop state: rating blocks + intermediate
    * factor blocks. */
  var intermediateStorageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK
  /** Storage level for the returned (last-iteration) factor tables. */
  var finalStorageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK

  def userCol: String = cols(0)
  def itemCol: String = cols(1)
  def entityCol(index: Int): String = cols(index)

  def setRank(value: Int): this.type = { rank = value; this }
  def setMaxIter(value: Int): this.type = { maxIter = value; this }
  def setRegParam(value: Double): this.type = { regParam = value; this }
  def setImplicitPrefs(value: Boolean): this.type = { implicitPrefs = value; this }
  def setAlpha(value: Double): this.type = { alpha = value; this }
  def setNonnegative(value: Boolean): this.type = { nonnegative = value; this }
  def setRatingCol(value: String): this.type = { ratingCol = value; this }
  def setPredictionCol(value: String): this.type = { predictionCol = value; this }
  def setSeed(value: Long): this.type = { seed = value; this }
  def setNumBlocks(value: Int): this.type = { numPartitions = Some(value); this }
  def setNumBlocks(index: Int, value: Int): this.type = { numPartitionsPerEntity(index) = value; this }
  def setNumUserBlocks(value: Int): this.type = setNumBlocks(0, value)
  def setNumItemBlocks(value: Int): this.type = setNumBlocks(1, value)
  def setCheckpointInterval(value: Int): this.type = { checkpointInterval = value; this }
  def setIntermediateStorageLevel(value: String): this.type =
    { intermediateStorageLevel = StorageLevel.fromString(value); this }
  def setFinalStorageLevel(value: String): this.type =
    { finalStorageLevel = StorageLevel.fromString(value); this }
  def setUserCol(value: String): this.type = { cols(0) = value; this }
  def setItemCol(value: String): this.type = { cols(1) = value; this }
  def setEntityCol(index: Int, value: String): this.type = { cols(index) = value; this }

  /** Two-entity convenience fit on (userCol, itemCol, ratingCol). */
  def fit(dataset: DataFrame): CollectiveALSModel = fit((cols(0), cols(1)) -> dataset)

  /** Multi-relation collective fit. Each dataset maps an (leftEntity,
    * rightEntity) pair — both must be declared in the constructor — to its
    * rating rows. Up to 64 relations. */
  def fit(datasets: ((String, String), DataFrame)*): CollectiveALSModel = {
    require(datasets.nonEmpty, "at least one relation required")
    require(datasets.size <= 64, "at most 64 relations supported")
    // Entity names must be validated before anything touches the
    // dataframes: an undeclared entity must fail fast as an
    // IllegalArgumentException, not surface as an analysis error from a
    // missing column.
    datasets.foreach { case ((l, r), _) =>
      require(cols.contains(l), s"Unknown entity: $l")
      require(cols.contains(r), s"Unknown entity: $r")
    }
    val spark = datasets.head._2.sparkSession
    // Block count per entity: setNumBlocks(index, n), then setNumBlocks(n);
    // otherwise size to the data — ~100k rating rows per block, clamped to
    // the session's shuffle parallelism (MLlib's ALS derives its block
    // count from the input for the same reason). The count runs each
    // relation's upstream pipeline once more — cache ratings first if they
    // are expensive to derive (the queries layer does).
    lazy val adaptive = {
      val totalRows = datasets.iterator.map(_._2.count()).sum
      val parallelism = spark.conf.get("spark.sql.shuffle.partitions").toLong
      math.max(1L, math.min(parallelism, totalRows / 100000L + 1)).toInt
    }
    val blocks = cols.indices.map { e =>
      numPartitionsPerEntity.get(e).orElse(numPartitions).getOrElse(adaptive)
    }.toArray
    // Every RDD the fit persists (rating blocks, in-loop factor blocks) is
    // released here whether the fit returns or throws; a failed fit also
    // releases the model tables it had already checkpointed (a table whose
    // checkpoint job fails is released by `Tables.checkpoint` itself).
    val held = mutable.ArrayBuffer.empty[RDD[_]]
    val tables = mutable.ArrayBuffer.empty[DataFrame]
    var done = false
    try {
      val model = fitWith(spark, datasets, blocks, held, tables)
      done = true
      model
    } finally {
      if (!done) tables.foreach(graft.Tables.release)
      held.foreach(_.unpersist(false))
    }
  }

  private def fitWith(
      spark: SparkSession,
      datasets: Seq[((String, String), DataFrame)],
      blocks: Array[Int],
      held: mutable.Buffer[RDD[_]],
      tables: mutable.Buffer[DataFrame]): CollectiveALSModel = {
    val sc = spark.sparkContext
    val k = rank
    val rels = datasets.map { case ((l, r), _) => (cols.indexOf(l), cols.indexOf(r)) }.toArray
    // Side 2i is relation i seen from its left entity (dst = left id,
    // src = right id); side 2i+1 from its right entity.
    val sideDst = Array.tabulate(2 * rels.length)(s => if (s % 2 == 0) rels(s / 2)._1 else rels(s / 2)._2)
    val sideSrc = Array.tabulate(2 * rels.length)(s => if (s % 2 == 0) rels(s / 2)._2 else rels(s / 2)._1)
    cols.indices.foreach(e => require(sideDst.contains(e), s"entity ${cols(e)} appears in no relation"))
    val offsets = blocks.scanLeft(0)(_ + _) // entity e owns partitions [offsets(e), offsets(e + 1))
    val srcBlocks = sideSrc.map(blocks)

    // Rating blocks: one shuffle of every relation's rows into the blocks
    // of both of its entities.
    val ratingExpr = if (ratingCol.nonEmpty) col(ratingCol).cast("float") else lit(1.0f)
    val nullIds = datasets.map(_ => sc.longAccumulator)
    val chunks = datasets.zipWithIndex.map { case (((l, r), df), i) =>
      val rows = df.select(col(l).cast("long"), col(r).cast("long"), ratingExpr).rdd
      val (li, ri) = rels(i)
      val (ln, rn, lo, ro) = (blocks(li), blocks(ri), offsets(li), offsets(ri))
      val nulls = nullIds(i)
      val total = offsets.last
      rows.mapPartitions { it =>
        val out = new ChunkBuffers(total)
        it.flatMap { row =>
          if (row.isNullAt(0) || row.isNullAt(1)) { nulls.add(1L); Iterator.empty }
          else {
            val (lid, rid, v) = (row.getLong(0), row.getLong(1), row.getFloat(2))
            out.add(lo + blockOf(lid, ln), 2 * i, lid, rid, v) ++
              out.add(ro + blockOf(rid, rn), 2 * i + 1, rid, lid, v)
          }
        } ++ out.flush()
      }
    }
    val all = sc.union(chunks).partitionBy(new HashPartitioner(offsets.last))
      .mapPartitions(it => Iterator.single(Block.build(it.map(_._2), srcBlocks)))
      .persist(intermediateStorageLevel)
    held += all
    all.count()
    // Checked id cast: a non-numeric id casts to null, which must fail the
    // fit rather than merge silently (ANSI on fails inside the job above
    // with the engine's CAST_INVALID_INPUT).
    datasets.zip(nullIds).foreach { case (((l, r), _), n) =>
      require(n.value == 0L,
        s"relation ($l, $r): entity ids must be numeric (cast to long produced null)")
    }
    val layout: Array[RDD[Block]] = cols.indices.map { e =>
      PartitionPruningRDD.create(all, p => p >= offsets(e) && p < offsets(e + 1)): RDD[Block]
    }.toArray

    // Deterministic per-id init (abs-Gaussian, unit norm), computed from the
    // blocks' ids wherever it is read.
    val factors: Array[RDD[Array[Float]]] = cols.indices.map { e =>
      val s = splitmix64(seed + e)
      layout(e).map { b =>
        val out = new Array[Float](b.ids.length * k)
        var d = 0
        while (d < b.ids.length) {
          System.arraycopy(initFactor(s, b.ids(d), k), 0, out, d * k, k)
          d += 1
        }
        out
      }
    }.toArray

    val (nn, reg, implicitP, a) = (nonnegative, regParam, implicitPrefs, alpha)
    for (iter <- 0 until maxIter; e <- cols.indices) {
      val sides = sideDst.indices.filter(sideDst(_) == e)
      // Implicit prefs: per incident relation, the YtY Gram of the source
      // factors that relation observes (the reference's per-relation
      // srcFactorBlock) — one job, block partials summed in block order.
      val yty: Array[Array[Double]] =
        if (!implicitP) Array.empty
        else {
          val gramSides = sides.map(_ / 2).distinct
            .map(rel => if (rels(rel)._1 == e) 2 * rel else 2 * rel + 1)
          val partials = sc.union(gramSides.map { s =>
            layout(sideSrc(s)).zipPartitions(factors(sideSrc(s))) { (bi, fi) =>
              Iterator.single((s / 2, bi.next().gram(s, fi.next(), k)))
            }
          }).collect()
          val out = new Array[Array[Double]](rels.length)
          partials.foreach { case (rel, g) =>
            if (out(rel) == null) out(rel) = g
            else { var i = 0; while (i < g.length) { out(rel)(i) += g(i); i += 1 } }
          }
          out
        }
      val ytyB = sc.broadcast(yty)
      val sent = sc.union(sides.map { s =>
        layout(sideSrc(s)).zipPartitions(factors(sideSrc(s))) { (bi, fi) =>
          bi.next().send(s, fi.next(), k)
        }
      }).partitionBy(new HashPartitioner(blocks(e)))
      val solved = layout(e).zipPartitions(sent) { (bi, mi) =>
        val solver: LeastSquaresSolver = if (nn) new NnlsSolver(k) else new CholeskySolver(k)
        Iterator.single(bi.next().solve(mi, k, solver, reg, implicitP, a, ytyB.value))
      }.persist(intermediateStorageLevel)
      held += solved
      // Lineage policy (reference: setCheckpointInterval /
      // set{Intermediate,Final}StorageLevel): the last iteration's factors
      // become the model's tables, checkpointed at finalStorageLevel;
      // in-loop factors checkpoint on interval boundaries and otherwise
      // stay persisted (lineage kept, bounded by the interval).
      if (iter == maxIter - 1) tables += table(spark, layout(e), solved, k)
      else {
        if ((iter + 1) % checkpointInterval == 0) solved.localCheckpoint()
        solved.count()
      }
      factors(e).unpersist(false)
      factors(e) = solved
    }
    if (maxIter == 0) cols.indices.foreach(e => tables += table(spark, layout(e), factors(e), k))
    new CollectiveALSModel(rank, tables.toIndexedSeq, cols.toIndexedSeq, predictionCol, fitBlocks = true)
  }

  /** One entity's (id, features) table, eagerly checkpointed at
    * [[finalStorageLevel]]: partition b is block b, ids ascending, which
    * [[CollectiveALSModel.predict]] relies on. */
  private def table(spark: SparkSession, layout: RDD[Block], f: RDD[Array[Float]], k: Int): DataFrame = {
    import spark.implicits._
    graft.Tables.checkpoint(layout.zipPartitions(f) { (bi, fi) =>
      val b = bi.next()
      val x = fi.next()
      Iterator.tabulate(b.ids.length)(d => (b.ids(d), java.util.Arrays.copyOfRange(x, d * k, d * k + k)))
    }.toDF("id", "features"), finalStorageLevel)
  }
}

object CollectiveALS {

  /** Rows per shuffled rating chunk: bounds the map side's buffers at
    * (total blocks) × this × 24 bytes. */
  private val ChunkRows = 2048

  /** The block of `id` among `n` blocks of its entity. */
  private[cmf] def blockOf(id: Long, n: Int): Int = java.lang.Math.floorMod(java.lang.Long.hashCode(id), n)

  /** Rating rows bound for one block, columnar: `side`, `dst` (an id of the
    * block's entity), `src` (an id of the other entity), `rating`. */
  private[cmf] final class Chunk(
      val side: Array[Int],
      val dst: Array[Long],
      val src: Array[Long],
      val rating: Array[Float]) extends Serializable

  /** Map-side buffers, one per target partition, each flushed as a
    * [[Chunk]] every [[ChunkRows]] rows. */
  private final class ChunkBuffers(total: Int) {
    private final class Buf {
      val side = new mutable.ArrayBuilder.ofInt
      val dst = new mutable.ArrayBuilder.ofLong
      val src = new mutable.ArrayBuilder.ofLong
      val rating = new mutable.ArrayBuilder.ofFloat
      def result(): Chunk = {
        val c = new Chunk(side.result(), dst.result(), src.result(), rating.result())
        side.clear(); dst.clear(); src.clear(); rating.clear()
        c
      }
    }
    private val bufs = Array.fill(total)(new Buf)

    def add(target: Int, side: Int, dst: Long, src: Long, rating: Float): Iterator[(Int, Chunk)] = {
      val b = bufs(target)
      b.side += side; b.dst += dst; b.src += src; b.rating += rating
      if (b.side.length < ChunkRows) Iterator.empty else Iterator.single((target, b.result()))
    }

    def flush(): Iterator[(Int, Chunk)] =
      bufs.indices.iterator.filter(bufs(_).side.length > 0).map(t => (t, bufs(t).result()))
  }

  /** One block of one entity, built once per fit.
    *
    * In-block: `ids` (ascending) are the block's entity ids; the ratings of
    * `ids(d)` are entries `[ptr(d), ptr(d + 1))`, sorted by (side, source,
    * rating), each naming its relation side and the index of its source id
    * in `srcIds(side)` (the side's source ids rated in this block,
    * ascending; null for sides with no rating here). Out-routes: for every
    * side whose source is this entity, `routes(side)` lists (destination
    * block, indices into `ids`) — each factor this block must send, once
    * per destination block. */
  private[cmf] final class Block(
      val ids: Array[Long],
      val ptr: Array[Int],
      val side: Array[Int],
      val src: Array[Int],
      val rating: Array[Float],
      val srcIds: Array[Array[Long]],
      val routes: Array[Array[(Int, Array[Int])]]) extends Serializable {

    /** One message per destination block that needs factors of `s`'s
      * source ids from this block: (dst block, (side, ids, k floats per id)). */
    def send(s: Int, f: Array[Float], k: Int): Iterator[(Int, (Int, Array[Long], Array[Float]))] =
      routes(s).iterator.map { case (dstBlock, idx) =>
        val feats = new Array[Float](idx.length * k)
        var j = 0
        while (j < idx.length) { System.arraycopy(f, idx(j) * k, feats, j * k, k); j += 1 }
        (dstBlock, (s, idx.map(ids), feats))
      }

    /** Σ f fᵀ over this block's factors that side `s` sends anywhere. */
    def gram(s: Int, f: Array[Float], k: Int): Array[Double] = {
      val used = new Array[Boolean](ids.length)
      routes(s).foreach(_._2.foreach(used(_) = true))
      val g = new Array[Double](k * (k + 1) / 2)
      var d = 0
      while (d < ids.length) {
        if (used(d)) NormalEq.addOuter(g, f, d * k, k, 1.0)
        d += 1
      }
      g
    }

    /** Builds and solves every id's normal equation from the received
      * source factors, one id at a time, into k floats per id. */
    def solve(
        received: Iterator[(Int, (Int, Array[Long], Array[Float]))],
        k: Int,
        solver: LeastSquaresSolver,
        reg: Double,
        implicitPrefs: Boolean,
        alpha: Double,
        yty: Array[Array[Double]]): Array[Float] = {
      val feats = srcIds.map(s => if (s == null) null else new Array[Float](s.length * k))
      received.foreach { case (_, (s, sent, f)) =>
        var j = 0
        while (j < sent.length) {
          val at = java.util.Arrays.binarySearch(srcIds(s), sent(j))
          System.arraycopy(f, j * k, feats(s), at * k, k)
          j += 1
        }
      }
      val ata = new Array[Double](k * (k + 1) / 2)
      val atb = new Array[Double](k)
      val out = new Array[Float](ids.length * k)
      var d = 0
      while (d < ids.length) {
        java.util.Arrays.fill(ata, 0.0)
        java.util.Arrays.fill(atb, 0.0)
        var n = 0L
        var mask = 0L
        var t = ptr(d)
        while (t < ptr(d + 1)) {
          val f = feats(side(t))
          val off = src(t) * k
          val r = rating(t)
          mask |= 1L << (side(t) / 2)
          // Same rule as NormalEqAggregator.reduce.
          if (!implicitPrefs) {
            NormalEq.addOuter(ata, f, off, k, 1.0)
            if (r != 0.0f) NormalEq.axpy(atb, f, off, k, r.toDouble)
            n += 1
          } else if (r > 0.0f) {
            val c1 = alpha * math.abs(r.toDouble)
            NormalEq.addOuter(ata, f, off, k, c1)
            NormalEq.axpy(atb, f, off, k, c1 + 1.0)
            n += 1
          }
          t += 1
        }
        var rel = 0
        while (rel < yty.length) {
          if (yty(rel) != null && ((mask >> rel) & 1L) == 1L) {
            val g = yty(rel)
            var i = 0
            while (i < ata.length) { ata(i) += g(i); i += 1 }
          }
          rel += 1
        }
        System.arraycopy(solver.solve(ata, atb, n * reg), 0, out, d * k, k)
        d += 1
      }
      out
    }
  }

  private[cmf] object Block {
    /** Sorts one partition's chunks into a [[Block]]; `srcBlocks(side)` is
      * the block count of the side's source entity. */
    def build(chunks: Iterator[Chunk], srcBlocks: Array[Int]): Block = {
      val cs = chunks.toArray
      val side = Array.concat(cs.map(_.side): _*)
      val dst = Array.concat(cs.map(_.dst): _*)
      val src = Array.concat(cs.map(_.src): _*)
      val rating = Array.concat(cs.map(_.rating): _*)
      val n = side.length
      val ids = sortedDistinct(dst)
      val bySide = Array.tabulate(srcBlocks.length)(s => Array.range(0, n).filter(side(_) == s))
      val srcIds = bySide.map(ts => if (ts.isEmpty) null else sortedDistinct(ts.map(src)))
      val dstAt = new Array[Int](n)
      val srcAt = new Array[Int](n)
      var t = 0
      while (t < n) {
        dstAt(t) = java.util.Arrays.binarySearch(ids, dst(t))
        srcAt(t) = java.util.Arrays.binarySearch(srcIds(side(t)), src(t))
        t += 1
      }
      // Order by (side, src) with a primitive sort of (rank << 32 | entry),
      // then stably by dst with a counting sort, which also yields ptr.
      val srcBase = srcIds.scanLeft(0)((acc, ids) => acc + (if (ids == null) 0 else ids.length))
      val keys = Array.tabulate(n)(t => ((srcBase(side(t)) + srcAt(t)).toLong << 32) | t)
      java.util.Arrays.sort(keys)
      val ptr = new Array[Int](ids.length + 1)
      dstAt.foreach(d => ptr(d + 1) += 1)
      var d = 0
      while (d < ids.length) { ptr(d + 1) += ptr(d); d += 1 }
      val next = ptr.clone()
      val order = new Array[Int](n)
      keys.foreach { key =>
        val e = key.toInt
        order(next(dstAt(e))) = e
        next(dstAt(e)) += 1
      }
      val sides = order.map(side)
      val srcs = order.map(srcAt)
      val ratings = order.map(rating)
      // Repeated (dst, side, src) entries differ only in rating: sort those
      // runs by rating so the summation order never depends on arrival.
      d = 0
      while (d < ids.length) {
        var from = ptr(d)
        while (from < ptr(d + 1)) {
          var to = from + 1
          while (to < ptr(d + 1) && sides(to) == sides(from) && srcs(to) == srcs(from)) to += 1
          if (to - from > 1) java.util.Arrays.sort(ratings, from, to)
          from = to
        }
        d += 1
      }
      // An entry (side s, dst d, src x) means d, as a source of the
      // opposite side s ^ 1, is needed by the block holding x.
      val routes = Array.fill(srcBlocks.length)(Array.empty[(Int, Array[Int])])
      for (s <- srcBlocks.indices if srcIds(s) != null) {
        val pairs = sortedDistinct(bySide(s).map(t => (blockOf(src(t), srcBlocks(s)).toLong << 32) | dstAt(t)))
        val route = mutable.ArrayBuffer.empty[(Int, Array[Int])]
        var from = 0
        while (from < pairs.length) {
          val b = (pairs(from) >>> 32).toInt
          var to = from
          while (to < pairs.length && (pairs(to) >>> 32).toInt == b) to += 1
          route += ((b, pairs.slice(from, to).map(_.toInt)))
          from = to
        }
        routes(s ^ 1) = route.toArray
      }
      new Block(ids, ptr, sides, srcs, ratings, srcIds, routes)
    }

    private def sortedDistinct(xs: Array[Long]): Array[Long] = {
      val s = xs.clone()
      java.util.Arrays.sort(s)
      var n = 0
      var i = 0
      while (i < s.length) {
        if (n == 0 || s(i) != s(n - 1)) { s(n) = s(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(s, n)
    }
  }

  /** SplitMix64 — public-domain mixing function (Steele et al.),
    * deterministic across partitioning. */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** One standard Gaussian via Box-Muller over two SplitMix64 draws —
    * THE deterministic gaussian stream for the whole library (factor
    * init, LSH hyperplanes); returns (advanced state, z). */
  def gaussian(state0: Long): (Long, Double) = {
    var state = splitmix64(state0)
    val u1 = ((state >>> 11) + 0.5) / (1L << 53).toDouble
    state = splitmix64(state)
    val u2 = ((state >>> 11) + 0.5) / (1L << 53).toDouble
    (state, math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2))
  }

  /** Deterministic per-id init: abs-Gaussian (Box-Muller over a SplitMix64
    * stream seeded by (seed, id)), normalized to unit length — the
    * "first-quadrant unit sphere" init the reference documents
    * (`CollectiveALS.scala:526-541` in the reference tree). Unlike the
    * reference (whose stream is seeded by the seed alone), each id gets an
    * independent draw regardless of partition layout. */
  def initFactor(seed: Long, id: Long, rank: Int): Array[Float] = {
    val out = new Array[Float](rank)
    var state = splitmix64(seed ^ splitmix64(id))
    var norm2 = 0.0
    var j = 0
    while (j < rank) {
      val (s2, z0) = gaussian(state)
      state = s2
      val z = math.abs(z0)
      out(j) = z.toFloat
      norm2 += z * z
      j += 1
    }
    val inv = (1.0 / math.sqrt(norm2)).toFloat
    j = 0
    while (j < rank) { out(j) *= inv; j += 1 }
    out
  }
}
