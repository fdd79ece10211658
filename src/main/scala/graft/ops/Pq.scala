package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-compression path
  * of the ANN family: vectors split into `m` subspaces, each quantized
  * to one of `k` per-subspace centroids, so a d-dim float vector
  * becomes `m` small codes (m bytes at k ≤ 256 — a 32× compression of a
  * 64-dim float embedding). Search scores compressed codes against an
  * uncompressed query via asymmetric distance computation (ADC): one
  * m×k lookup table of subspace inner products per query, then each
  * corpus item costs m table lookups instead of d multiplies.
  *
  * At 100 TB of embeddings this is what makes ANN memory-feasible:
  * codes live where vectors can't. Codebooks are driver state
  * (m·k·subDim doubles — KBs), trained per-subspace with the same
  * Spark ML k-means as [[IvfIndex]]; encoding is one per-partition
  * primitive pass; search broadcasts the query LUTs and runs a
  * per-partition k-slot top-k ([[graft.TopKSlots]]), then a bounded
  * per-query window — never |queries|×|corpus| shuffled rows.
  */
object Pq {

  /** Hard cap on the query side of the ADC search paths: queries
    * collect to the driver as m×k LUTs (65,536 × 8×16 doubles ≈ 67 MB
    * at the default shape), so a corpus-sized query set must fail fast
    * with a actionable message, not OOM the driver after minutes. */
  val MaxQueryBatch: Int = 65536

  /** Collect the query side, enforcing [[MaxQueryBatch]] WITHOUT first
    * materializing an oversized batch: at most cap+1 rows ever reach
    * the driver (limit pushes into the scan), and row cap+1 aborts. */
  private[ops] def collectQueryBatch(
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String): Array[(Long, Array[Double])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val rows = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .limit(MaxQueryBatch + 1)
      .as[(Long, Array[Double])]
      .collect()
    require(rows.length <= MaxQueryBatch,
      s"ADC search got a query batch larger than $MaxQueryBatch rows — the " +
        "query side becomes driver-held lookup tables by contract (probe " +
        "batches, not the corpus); chunk the probes or swap query/corpus sides")
    rows
  }

  /** Trained PQ codebooks: `codebooks(j)(c)` is subspace j's centroid c
    * (subDim doubles each). */
  final class PqModel private[ops] (
      val m: Int,
      val k: Int,
      val subDim: Int,
      val codebooks: Array[Array[Array[Double]]]) extends Serializable {
    require(codebooks.length == m && codebooks.forall(_.length == k))

    /** Decode a code array back to its reconstruction (spec/debug aid). */
    def decode(codes: Seq[Int]): Array[Double] = {
      val out = new Array[Double](m * subDim)
      var j = 0
      while (j < m) {
        System.arraycopy(codebooks(j)(codes(j)), 0, out, j * subDim, subDim)
        j += 1
      }
      out
    }
  }

  /** Train per-subspace codebooks on a deterministic id-hash sample
    * (quantizer quality needs representativeness, not the full corpus).
    *
    * `padShort = false` (the default, for direct callers): a subspace
    * with fewer distinct values than k is a caller error and fails with
    * the cause. `padShort = true` (the IVFADC build): residual
    * subspaces can legitimately collapse below k distinct values, so a
    * short codebook is padded with duplicates of its first center —
    * encode's lowest-code tie-break means padded codes are never
    * emitted, so semantics are identical and the code domain stays
    * full-width. */
  def train(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      k: Int = 16,
      seed: Long = 7L,
      trainFraction: Double = 1.0,
      maxIter: Int = 10,
      padShort: Boolean = false): PqModel = {
    require(m > 0 && k > 1, "need m > 0 subspaces and k > 1 centroids")
    require(trainFraction > 0 && trainFraction <= 1, "trainFraction in (0, 1]")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = Similarity.dimOf(corpus, vecCol)
    require(dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    val subDim = dim / m
    val base = corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val trainSet =
        if (trainFraction >= 1.0) base
        else base.filter(pmod(xxhash64(col("id"), lit(seed)), lit(1000000))
          < lit((trainFraction * 1000000).toLong))
      // Emptiness check only (the scan stops after one row). The
      // actual k-cap protection against MLlib's k-means aggregator
      // indexing past the end lives in the distinct-subvector branch
      // below, which takes ≤ k distinct subvectors as the codebook.
      require(trainSet.limit(1).count() > 0,
        "PQ training set is empty — nothing to quantize")
      // The m subspace fits are independent jobs over tiny subvector
      // tables; run them concurrently from driver threads so the next
      // fit's tasks back-fill executors idled by the current fit's tail
      // (each fit alone is scheduling-overhead-bound). Each fit is
      // deterministic given (data, seed + j), so the codebooks are
      // byte-identical to the sequential order.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(m, 4))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      // Failure path: cancel the siblings (shutdownNow interrupts queued
      // and running fits) so they stop racing the outer finally's
      // base.unpersist(); the bounded timeout turns a wedged fit into a
      // diagnosable TimeoutException instead of hanging fit() forever.
      val books = try Await.result(Future.sequence((0 until m).map { j => Future {
        val subArr = trainSet.select(
          slice(col("v"), lit(j * subDim + 1), lit(subDim)).as("av"))
        // MLlib's k-means aggregator indexes past the end when k is not
        // far below the DISTINCT point count: when the subspace has at
        // most k distinct subvectors they ARE the (perfect) codebook.
        val distinctSub = subArr.distinct().orderBy("av").limit(k + 1).collect()
        val centers =
          if (distinctSub.length <= k)
            distinctSub.map(_.getSeq[Double](0).toArray)
          else new KMeans()
            .setK(k).setSeed(seed + j).setMaxIter(maxIter)
            .setFeaturesCol("fv")
            .fit(subArr.select(array_to_vector(col("av")).as("fv")))
            .clusterCenters.map(_.toArray)
        // k-means returns < k centers on a low-diversity subspace (fewer
        // distinct subvectors than k); pad when asked, else fail with
        // the cause, not the PqModel constructor's opaque error.
        if (centers.length < k && padShort)
          centers ++ Array.fill(k - centers.length)(centers(0).clone())
        else {
          require(centers.length == k,
            s"PQ subspace $j produced ${centers.length} < $k centroids — " +
              "the subspace has too few distinct values; reduce k or train on more data")
          centers
        }
      }}), Duration(30, java.util.concurrent.TimeUnit.MINUTES)).toArray
      catch { case e: Throwable => pool.shutdownNow(); throw e }
      finally pool.shutdown()
      new PqModel(m, k, subDim, books)
    } finally base.unpersist()
  }

  /** Encode every vector to its code array: per subspace, the index of
    * the nearest centroid (L2; ties → lowest code). One per-partition
    * primitive pass with the codebooks broadcast. Returns (idCol,
    * codes: array<int>). */
  def encode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      model: PqModel): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val mod = bc.value
        it.map { case (id, v) =>
          require(v.length == mod.m * mod.subDim,
            s"vector dim ${v.length} != ${mod.m}x${mod.subDim}")
          val codes = new Array[Int](mod.m)
          var j = 0
          while (j < mod.m) {
            val off = j * mod.subDim
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < mod.k) {
              val cent = mod.codebooks(j)(c)
              var d = 0.0; var i = 0
              while (i < mod.subDim) {
                val diff = v(off + i) - cent(i); d += diff * diff; i += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            codes(j) = best
            j += 1
          }
          (id, codes)
        }
      }
      .toDF(idCol, "codes")
  }

  /** Build the composed IVF-PQ index (the FAISS-style billion-scale
    * layout): k-means cells prune the search space, PQ codes compress
    * what remains — a probe touches nprobe/nlist of the corpus and
    * scores it at m lookups per item, with the raw vectors needed
    * nowhere at serving time.
    *
    * Codes encode RESIDUALS against the cell centroid (classic IVFADC,
    * Jégou et al. §IV): within a cell the residual distribution is
    * tighter than the raw unit vectors, so the same m·k code budget
    * quantizes strictly better at identical cost. The search-side
    * consequence is one add: ⟨q, u⟩ = ⟨q, c_cell⟩ + ⟨q, u − c_cell⟩,
    * and the query already computes every ⟨q, c⟩ while ranking cells —
    * the offset is a free per-(query, cell) lookup.
    *
    * Everything derives from ONE cell assignment pass: residuals come
    * off the unit-normalized vectors already carried by the
    * [[IvfIndex]], so offset + ADC inner products rank like cosine,
    * consistent with the IVF probe metric. */
  def buildIvfPq(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 32,
      m: Int = 8,
      k: Int = 16,
      seed: Long = 7L): IvfPqIndex = {
    val ivf = IvfIndex.build(corpus, idCol, vecCol, nlist, seed)
    val unit = ivf.assigned.select(col("cid").as("id"),
      transform(col("cv"), x => x / col("cn")).as("uv"), col("cell"))
    val resid = withResidual(unit, ivf.centroids)
    val model = train(resid, "id", "ruv", m, k, seed, padShort = true)
    val codedCells = encode(resid, "id", "ruv", model)
      .join(resid.select(col("id"), col("cell")), Seq("id"))
      .transform(graft.Tables.checkpoint)
    new IvfPqIndex(ivf.centroids, model, codedCells)
  }

  /** (id, uv, cell) → + `ruv` = uv − centroid(cell): the IVFADC
    * residual, computed against the (tiny, literal) centroid table —
    * a narrow projection, no join, no shuffle. */
  private[ops] def withResidual(
      unit: DataFrame,
      centroids: Seq[(Seq[Double], Double)]): DataFrame = {
    val centLit = typedLit(centroids.map(_._1))
    unit.withColumn("ruv",
      zip_with(col("uv"), element_at(centLit, col("cell") + 1), (x, c) => x - c))
  }

  /** Top-k corpus items per query by ADC inner-product score. Queries
    * (small) collect to the driver as m×k lookup tables; the codes
    * table streams through a per-partition heap, then a bounded
    * per-query window takes the global top-k. Returns
    * (query_id, id, score, rank), score = Σ_j lut(j, code_j). */
  def searchAdc(
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      codes: DataFrame,
      idCol: String,
      model: PqModel,
      topK: Int): DataFrame = {
    require(topK > 0)
    val spark = codes.sparkSession
    import spark.implicits._
    // |queries| × m × k doubles — the broadcast LUT state; queries are
    // the small side by contract, enforced by the batch cap.
    val luts: Array[(Long, Array[Array[Double]])] =
      collectQueryBatch(queries, qIdCol, qVecCol)
      .map { case (qid, qv) =>
        require(qv.length == model.m * model.subDim,
          s"query dim ${qv.length} != ${model.m}x${model.subDim}")
        val lut = Array.ofDim[Double](model.m, model.k)
        var j = 0
        while (j < model.m) {
          val off = j * model.subDim
          var c = 0
          while (c < model.k) {
            val cent = model.codebooks(j)(c)
            var s = 0.0; var i = 0
            while (i < model.subDim) { s += qv(off + i) * cent(i); i += 1 }
            lut(j)(c) = s
            c += 1
          }
          j += 1
        }
        (qid, lut)
      }
    val bc = spark.sparkContext.broadcast(luts)
    val kk = topK
    val cand = codes
      .select(col(idCol).cast("long").as("id"), col("codes"))
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        val qs = bc.value
        // Per-partition fixed k-slot top-k per query:
        // O(|partition|·|queries|·m) lookups, no sort.
        val tops = Array.fill(qs.length)(new graft.TopKSlots(kk))
        it.foreach { case (id, codes) =>
          var q = 0
          while (q < qs.length) {
            val lut = qs(q)._2
            var s = 0.0; var j = 0
            while (j < lut.length) { s += lut(j)(codes(j)); j += 1 }
            tops(q).offer(id, s)
            q += 1
          }
        }
        qs.indices.iterator.flatMap { q =>
          (0 until tops(q).size).map(x => (qs(q)._1, tops(q).ids(x), tops(q).scores(x)))
        }
      }
      .toDF("query_id", idCol, "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col(idCol))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }
}

/** A built IVF-PQ index ([[Pq.buildIvfPq]]): driver state is
  * nlist·dim centroid doubles + m·k·subDim codebook doubles; the
  * distributed state is one (id, codes, cell) row per corpus vector —
  * m ints instead of dim floats. Codes are IVFADC residuals against
  * the cell centroid; scoring adds the per-(query, cell) centroid dot
  * the probe ranking computes anyway.
  */
final class IvfPqIndex private[ops] (
    val centroids: Seq[(Seq[Double], Double)],
    val model: Pq.PqModel,
    /** (id, codes, cell) per corpus vector; codes encode uv − c_cell. */
    val codedCells: org.apache.spark.sql.DataFrame) extends Serializable {

  def nlist: Int = centroids.size

  /** Top-k per query: each query (unit-normalized here) picks its
    * `nprobe` nearest cells on the driver (centroids are local), and a
    * single per-partition pass scores only rows whose cell is probed by
    * the query — the heap shape of [[Pq.searchAdc]] with a cell guard.
    * Score = ⟨q, c_cell⟩ + ADC(residual codes). Returns
    * (query_id, id, score, rank). */
  def search(
      queries: org.apache.spark.sql.DataFrame,
      qIdCol: String,
      qVecCol: String,
      topK: Int,
      nprobe: Int): org.apache.spark.sql.DataFrame = {
    require(topK > 0 && nprobe > 0, "need positive topK and nprobe")
    val np = math.min(nprobe, nlist) // a degenerate corpus caps nlist
    val spark = codedCells.sparkSession
    import spark.implicits._
    val mod = model
    val cents = centroids
    val qstate: Array[(Long, Array[Array[Double]], Array[Boolean], Array[Double])] =
      Pq.collectQueryBatch(queries, qIdCol, qVecCol)
      .flatMap { case (qid, raw) =>
        val n = math.sqrt(raw.map(x => x * x).sum)
        if (n == 0) None // zero-norm queries have no cosine neighborhood
        else {
          val qv = raw.map(_ / n)
          // q·c per cell: ranks cells by 2u·c − ‖c‖² (unit-query
          // euclidean order) AND is the residual score offset.
          val cellDots = cents.map { case (c, _) =>
            var s = 0.0; var j = 0
            while (j < qv.length) { s += qv(j) * c(j); j += 1 }
            s
          }.toArray
          val probed = cents.zipWithIndex
            .map { case ((_, n2), i) => (2.0 * cellDots(i) - n2, i) }
            .sortBy { case (s, i) => (-s, i) }
            .take(np).map(_._2).toSet
          val mask = Array.tabulate(cents.size)(probed.contains)
          val lut = Array.ofDim[Double](mod.m, mod.k)
          var j = 0
          while (j < mod.m) {
            val off = j * mod.subDim
            var c = 0
            while (c < mod.k) {
              val cent = mod.codebooks(j)(c)
              var s = 0.0; var i = 0
              while (i < mod.subDim) { s += qv(off + i) * cent(i); i += 1 }
              lut(j)(c) = s
              c += 1
            }
            j += 1
          }
          Some((qid, lut, mask, cellDots))
        }
      }
    val bc = spark.sparkContext.broadcast(qstate)
    val kk = topK
    val cand = codedCells
      .select(col("id"), col("codes"), col("cell"))
      .as[(Long, Array[Int], Int)]
      .mapPartitions { it =>
        val qs = bc.value
        val tops = Array.fill(qs.length)(new graft.TopKSlots(kk))
        it.foreach { case (id, codes, cell) =>
          var q = 0
          while (q < qs.length) {
            if (qs(q)._3(cell)) {
              val lut = qs(q)._2
              var s = qs(q)._4(cell) // ⟨q, c_cell⟩: the residual offset
              var j = 0
              while (j < lut.length) { s += lut(j)(codes(j)); j += 1 }
              tops(q).offer(id, s)
            }
            q += 1
          }
        }
        qs.indices.iterator.flatMap { q =>
          (0 until tops(q).size).map(x => (qs(q)._1, tops(q).ids(x), tops(q).scores(x)))
        }
      }
      .toDF("query_id", "id", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** Incremental add — the growing-corpus path: assign each new vector
    * to its nearest EXISTING cell, residual-encode it with the frozen
    * codebooks, and append. No retraining, no touch of the existing
    * coded rows (only the increment is materialized; at cluster scale
    * this is an append of new parquet partitions). Quantizer drift
    * under heavy growth is the operator's documented trade-off —
    * rebuild when the added fraction gets large. */
  def add(
      newRows: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String): IvfPqIndex = {
    val assigned = IvfIndex.assignToCells(centroids, newRows, idCol, vecCol)
    val unit = assigned.select(col("cid").as("id"),
      transform(col("cv"), x => x / col("cn")).as("uv"), col("cell"))
    val resid = Pq.withResidual(unit, centroids)
    val coded = Pq.encode(resid, "id", "ruv", model)
      .join(resid.select(col("id"), col("cell")), Seq("id"))
      .transform(graft.Tables.checkpoint)
    new IvfPqIndex(centroids, model, codedCells.unionAll(coded))
  }
}
