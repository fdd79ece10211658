package graft.cmf

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Collective Matrix Factorization: ALS generalized to N entity types
  * connected by M rating relations that share entity factor matrices.
  *
  * Same fit semantics as the reference estimator
  * (`/root/reference/src/main/scala/com/github/jongwook/cmf/CollectiveALS.scala:94-133`):
  * multi-relation `fit(("user","item") -> r1, ("item","tag") -> r2)`,
  * explicit and implicit (Hu-Koren) preferences, per-relation
  * normal-equation merge, λ·n ALS-WR regularization, optional NNLS — but
  * re-expressed Spark-first instead of the reference's hand-built
  * RatingBlock/InBlock/OutBlock RDD routing:
  *
  *  - per half-iteration, for entity e: every incident relation is joined
  *    ratings ⋈ factors(other side) on the other side's id, unioned, and
  *    aggregated `groupBy(e-id)` with a typed normal-equation Aggregator
  *    ([[NormalEqAggregator]]). Map-side partial aggregation collapses each
  *    partition to ≤ |distinct ids| packed buffers before the shuffle —
  *    the reference's block-communication bound, with Catalyst planning
  *    the exchanges;
  *  - each relation's ratings are cached pre-hash-partitioned by BOTH of
  *    its key columns (the analogue of the reference's two block layouts),
  *    so the big ratings side never re-shuffles across iterations — only
  *    the factor tables (|entities|·k floats) move per half-step, which is
  *    the ALS lower bound;
  *  - solving is `mapPartitions` over the aggregated equations — O(k³)
  *    local work per id with scratch reuse ([[CholeskySolver]] /
  *    [[NnlsSolver]]);
  *  - factor lineage is truncated per half-step with eager
  *    `localCheckpoint`, keeping plans O(1) across iterations.
  *
  * Scale notes (100 TB): ratings are never collected or crossed; every
  * stage is join-shuffle-agg keyed by an entity id, so AQE's skew-join
  * handles power-law ids on the join side and partial aggregation bounds
  * the agg side. Ids are Long end-to-end (the reference caps at Int).
  */
class CollectiveALS(entityNames: String*) extends Serializable {

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
  /** Optional explicit shuffle parallelism for the cached rating layouts
    * (the analogue of the reference's per-entity block counts). Default:
    * let Catalyst/AQE size the exchanges. */
  var numPartitions: Option[Int] = None
  /** Per-entity overrides of [[numPartitions]] (reference:
    * `setNumBlocks(index, value)`), keyed by entity index. */
  val numPartitionsPerEntity: scala.collection.mutable.Map[Int, Int] =
    scala.collection.mutable.Map.empty
  /** Truncate factor lineage (eager localCheckpoint) every this many
    * iterations; off-interval factors are eagerly persisted at
    * [[intermediateStorageLevel]]. 1 (default) = every half-step. */
  var checkpointInterval: Int = 1
  /** Storage level for in-loop state: rating layouts + intermediate
    * factor tables. */
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

  private case class Rel(idx: Int, left: Int, right: Int, byLeft: DataFrame, byRight: DataFrame)

  /** Two-entity convenience fit on (userCol, itemCol, ratingCol). */
  def fit(dataset: DataFrame): CollectiveALSModel = fit((cols(0), cols(1)) -> dataset)

  /** Multi-relation collective fit. Each dataset maps an (leftEntity,
    * rightEntity) pair — both must be declared in the constructor — to its
    * rating rows. Up to 64 relations. */
  def fit(datasets: ((String, String), DataFrame)*): CollectiveALSModel = {
    require(datasets.nonEmpty, "at least one relation required")
    require(datasets.size <= 64, "at most 64 relations supported")
    // Entity names must be validated BEFORE the pre-fit stats pass below
    // touches the dataframes: an undeclared entity must fail fast as an
    // IllegalArgumentException, not surface as an analysis error from a
    // missing column.
    datasets.foreach { case ((l, r), _) =>
      require(cols.contains(l), s"Unknown entity: $l")
      require(cols.contains(r), s"Unknown entity: $r")
    }
    val spark = datasets.head._2.sparkSession
    // Block count for every fit-internal exchange (rating layouts, the
    // per-half-iteration join + normal-equation agg, factor init):
    // explicit setNumBlocks wins; otherwise size to the data — ~100k
    // rating rows per block (a few MB of shuffle per task), clamped to
    // the session's parallelism. Big relations use the cluster's full
    // width; small ones stop paying 32-way task overhead on near-empty
    // exchanges across maxIter × entities shuffles (MLlib's ALS derives
    // its block count from the input partitioning for the same reason).
    // Scoped via the session shuffle-partition conf (the only way to
    // reach groupBy exchanges) and restored after the fit; counting the
    // inputs runs their upstream pipelines once — cache ratings first if
    // they are expensive to derive (the queries layer does). The swap is
    // session-global: a fit is a single-owner operation — queries planned
    // concurrently on the same SparkSession during a fit would pick up
    // the fit's block count.
    // Serialize fits per session: two concurrent swaps could interleave
    // save/restore and leave the session conf permanently wrong. The lock
    // is a private per-session object, NOT the session's own monitor —
    // SparkSession lazy-val initialization synchronizes on `this`, so
    // holding that monitor for a multi-minute fit would stall unrelated
    // threads touching the same session.
    CollectiveALS.fitLock(spark).synchronized {
      val sessionShuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // ONE stats pass per relation serves both pre-fit obligations that
      // used to be separate jobs: the row count behind the adaptive block
      // sizing AND the checked id cast (a non-numeric id casts to null,
      // which would silently merge all such rows into one normal
      // equation — reference semantics: fail instead). Same error
      // contract as before: ANSI-on surfaces the engine's
      // CAST_INVALID_INPUT from inside the aggregate; ANSI-off trips the
      // require as an IllegalArgumentException naming "numeric".
      // When numPartitions is explicit the row count has no consumer —
      // skip the full raw-input pass entirely and run the id audit as a
      // cheap limit(1) probe on the CACHED layout inside fitWith (the
      // layout materializes for the fit anyway), so numPartitions-set
      // callers with expensive un-materialized inputs don't pay an extra
      // full pipeline execution.
      val fitShuffle = numPartitions.getOrElse {
        val totalRows = datasets.iterator.map { case ((l, r), df) =>
          val st = df.agg(
            count(lit(1)),
            sum(when(col(l).cast("long").isNull || col(r).cast("long").isNull,
              1L).otherwise(0L))).head()
          require(st.isNullAt(1) || st.getLong(1) == 0L,
            s"relation ($l, $r): entity ids must be numeric (cast to long produced null)")
          st.getLong(0)
        }.sum
        math.max(1L, math.min(sessionShuffle.toLong, totalRows / 100000L + 1)).toInt
      }
      spark.conf.set("spark.sql.shuffle.partitions", fitShuffle)
      // Every frame the fit persists (rating layouts, in-loop factors) is
      // released here whether the fit returns or throws: a failed id
      // audit or iteration must not leave them cached. The returned
      // model's factors are checkpoints, not persisted frames.
      val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      try fitWith(spark, datasets, held, auditIds = numPartitions.isDefined)
      finally {
        held.foreach(_.unpersist(false))
        spark.conf.set("spark.sql.shuffle.partitions", sessionShuffle)
      }
    }
  }

  private def fitWith(
      spark: SparkSession,
      datasets: Seq[((String, String), DataFrame)],
      held: scala.collection.mutable.Buffer[DataFrame],
      auditIds: Boolean): CollectiveALSModel = {
    val ratingExpr = if (ratingCol.nonEmpty) col(ratingCol).cast("float") else lit(1.0f)

    // Pre-project and cache each relation in both hash layouts.
    val rels: Seq[Rel] = datasets.zipWithIndex.map { case (((l, r), df), idx) =>
      val li = cols.indexOf(l)
      val ri = cols.indexOf(r)
      require(li >= 0, s"Unknown entity: $l")
      require(ri >= 0, s"Unknown entity: $r")
      val data = df.select(
        col(l).cast("long").as("leftId"),
        col(r).cast("long").as("rightId"),
        ratingExpr.as("rating"))
      def layout(src: DataFrame, key: String, entity: Int) = {
        val df = numPartitionsPerEntity.get(entity).orElse(numPartitions)
          .map(n => src.repartition(n, col(key)))
          .getOrElse(src.repartition(col(key)))
          .persist(intermediateStorageLevel)
        held += df
        df
      }
      // The second layout re-shuffles the FIRST layout's cache, so the
      // upstream rating pipeline (often a join+agg) executes once, not
      // once per layout.
      val byLeft = layout(data, "leftId", li)
      val byRight = layout(byLeft, "rightId", ri)
      // Checked id cast: folded into fit()'s pre-fit stats pass when the
      // block count is adaptive; with explicit numPartitions that pass is
      // skipped, so audit here with a limit(1) probe on the cached layout
      // (materializes the cache the fit needs anyway — no extra pipeline
      // execution; same IllegalArgumentException("numeric") contract).
      if (auditIds) {
        val bad = byLeft
          .filter(col("leftId").isNull || col("rightId").isNull)
          .limit(1).count()
        require(bad == 0L,
          s"relation ($l, $r): entity ids must be numeric (cast to long produced null)")
      }
      Rel(idx, li, ri, byLeft, byRight)
    }.toSeq

    // Deterministic per-id factor init (abs-Gaussian, unit norm) for every
    // id observed in any incident relation.
    val factors = new Array[DataFrame](cols.length)
    for (e <- cols.indices) {
      val sides = rels.flatMap { rel =>
        (if (rel.left == e) Seq(rel.byLeft.select(col("leftId").as("id"))) else Nil) ++
          (if (rel.right == e) Seq(rel.byRight.select(col("rightId").as("id"))) else Nil)
      }
      require(sides.nonEmpty, s"entity ${cols(e)} appears in no relation")
      val ids = sides.reduce(_ unionAll _).distinct()
      factors(e) = initFactors(spark, ids, CollectiveALS.splitmix64(seed + e))
        .localCheckpoint(true)
    }

    val neUdaf = functions.udaf(new NormalEqAggregator(rank, implicitPrefs, alpha))
    // Gram aggregation must run in explicit mode: the implicit aggregator
    // ignores r <= 0 rows, and the YtY probe feeds rating 0.
    val gramUdaf = functions.udaf(new NormalEqAggregator(rank, false, 1.0))

    for (iter <- 0 until maxIter; e <- cols.indices) {
      // Union the (id, srcFactor, rating, relIdx) contributions of every
      // relation incident to entity e.
      val contribs = rels.flatMap { rel =>
        val parts = scala.collection.mutable.Buffer.empty[DataFrame]
        if (rel.left == e) {
          val f = factors(rel.right).hint("shuffle_hash")
          parts += rel.byRight.join(f, col("rightId") === f("id"))
            .select(col("leftId").as("id"), f("features").as("features"),
              col("rating"), lit(rel.idx).as("rel"))
        }
        if (rel.right == e) {
          val f = factors(rel.left).hint("shuffle_hash")
          parts += rel.byLeft.join(f, col("leftId") === f("id"))
            .select(col("rightId").as("id"), f("features").as("features"),
              col("rating"), lit(rel.idx).as("rel"))
        }
        parts
      }
      if (contribs.nonEmpty) {
        val grouped = contribs.reduce(_ unionAll _)
          .groupBy("id")
          .agg(neUdaf(col("features"), col("rating"), col("rel")).as("ne"))
        // Implicit prefs: the YtY Gram of each incident relation's src-side
        // factors (restricted to the src ids actually present in that
        // relation, matching the reference's per-relation srcFactorBlock).
        // All incident relations ride ONE union + grouped aggregation, so
        // the driver pays one collect job per (entity, iteration) — k(k+1)/2
        // doubles per relation — instead of one job per relation.
        val yty: Map[Int, Array[Double]] =
          if (!implicitPrefs) Map.empty
          else {
            val tagged = rels.flatMap { rel =>
              if (rel.left != e && rel.right != e) None
              else {
                val (srcIdx, srcIds) =
                  if (rel.left == e) (rel.right, rel.byRight.select(col("rightId").as("id")))
                  else (rel.left, rel.byLeft.select(col("leftId").as("id")))
                Some(factors(srcIdx).join(srcIds, Seq("id"), "left_semi")
                  .select(col("features"), lit(rel.idx).as("relIdx")))
              }
            }
            if (tagged.isEmpty) Map.empty
            else tagged.reduce(_ unionAll _)
              .groupBy("relIdx")
              .agg(gramUdaf(col("features"), lit(0.0f), lit(0)).as("ne"))
              .select(col("relIdx"), col("ne.ata"))
              .collect()
              .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
              .toMap
          }
        // Lineage policy (reference: setCheckpointInterval /
        // set{Intermediate,Final}StorageLevel): the last iteration's
        // factors checkpoint at finalStorageLevel (they ARE the model);
        // in-loop factors checkpoint at intermediateStorageLevel on
        // interval boundaries and otherwise eagerly persist (lineage
        // kept, bounded by the interval).
        val solved = solveFactors(spark, grouped, yty)
        val last = iter == maxIter - 1
        val newF =
          if (last) solved.localCheckpoint(true, finalStorageLevel)
          else if ((iter + 1) % checkpointInterval == 0)
            solved.localCheckpoint(true, intermediateStorageLevel)
          else {
            val p = solved.persist(intermediateStorageLevel)
            held += p
            p.count() // materialize before the predecessor unpersists
            p
          }
        factors(e).unpersist(false)
        factors(e) = newF
      }
    }

    new CollectiveALSModel(rank, factors.toIndexedSeq, cols.toIndexedSeq, predictionCol)
  }

  private def initFactors(spark: SparkSession, ids: DataFrame, s: Long): DataFrame = {
    import spark.implicits._
    val k = rank
    ids.select(col("id").cast("long")).as[Long]
      .mapPartitions { it => it.map(id => (id, CollectiveALS.initFactor(s, id, k))) }
      .toDF("id", "features")
  }

  private def solveFactors(
      spark: SparkSession,
      grouped: DataFrame,
      yty: Map[Int, Array[Double]]): DataFrame = {
    import spark.implicits._
    val ytyB = spark.sparkContext.broadcast(yty)
    val nn = nonnegative
    val reg = regParam
    val k = rank
    grouped
      .select(col("id"), col("ne.ata"), col("ne.atb"), col("ne.n"), col("ne.mask"))
      .as[(Long, Array[Double], Array[Double], Long, Long)]
      .mapPartitions { iter =>
        val solver: LeastSquaresSolver = if (nn) new NnlsSolver(k) else new CholeskySolver(k)
        val ytys = ytyB.value
        iter.map { case (id, ata, atb, n, mask) =>
          ytys.foreach { case (relIdx, g) =>
            if (((mask >> relIdx) & 1L) == 1L) {
              var i = 0
              while (i < ata.length) { ata(i) += g(i); i += 1 }
            }
          }
          (id, solver.solve(ata, atb, n * reg))
        }
      }
      .toDF("id", "features")
  }
}

object CollectiveALS {

  // Per-session fit locks (see the fit() conf swap). Weak keys: a lock
  // dies with its session instead of accumulating across sessions.
  private val fitLocks = new java.util.WeakHashMap[SparkSession, AnyRef]
  private def fitLock(s: SparkSession): AnyRef =
    fitLocks.synchronized(fitLocks.computeIfAbsent(s, _ => new Object))

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
