package graft.ops

import graft.cmf.CollectiveALS.splitmix64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY §2 #23–24):
  * brute-force cosine top-k as the exact baseline, and random-hyperplane
  * LSH bucketing + exact re-rank as the sub-quadratic scale path.
  */
object Similarity {

  /** Σ aᵢ·bᵢ over two array<double> columns — the fused native expression
    * ([[graft.functions.ArrayDot]]): one codegen loop, no intermediate
    * product array, sequential left-to-right double accumulation
    * (engine-reproducible). */
  def dot(a: Column, b: Column): Column = {
    graft.functions.register(org.apache.spark.sql.SparkSession.active)
    graft.functions.array_dot(a, b)
  }

  /** (id, v, nrm) with zero-norm rows removed: cosine against a zero
    * vector is 0/0 = NaN, and NaN sorts above every double in a
    * descending window — an undetected zero vector would occupy the top
    * ranks of every query. Excluding them is the only consistent
    * semantics (a zero vector has no direction to be similar to). */
  private[ops] def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)

  /** Exact cosine top-k neighbors of each query over the corpus
    * (self-matches excluded): (query_id, neighbor_id, cosine, rank).
    *
    * Scale shape: queries × corpus with the (small) query side broadcast;
    * per-query ranking is TakeOrdered-style via a bounded window. Use for
    * modest query sets or as the ground truth for [[lshTopK]] recall. */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = normalized(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = normalized(corpus, idCol, vecCol)
    val scored = c.join(broadcast(q), col("qid") =!= col("id"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Deterministic random hyperplanes: `planes` rows of `dim` signed
    * Gaussian components from the library's shared SplitMix64 stream
    * ([[graft.cmf.CollectiveALS.gaussian]]). */
  def hyperplanes(dim: Int, planes: Int, seed: Long): Seq[Seq[Double]] =
    (0 until planes).map { p =>
      var state = splitmix64(seed + p)
      (0 until dim).map { _ =>
        val (s2, z) = graft.cmf.CollectiveALS.gaussian(state)
        state = s2
        z
      }
    }

  /** Approximate cosine top-k via random-hyperplane LSH.
    *
    * Each vector gets a `planes`-bit sign signature; the bits split into
    * `bands` band keys; query and corpus rows meet only inside matching
    * (band, key) buckets (sub-quadratic — never the full cross product),
    * then exact cosine re-ranks the candidates. Output shape matches
    * [[bruteForceTopK]]; recall rises with `planes`/`bands` (collision
    * probability per plane is 1 − θ/π).
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 16,
      bands: Int = 4,
      seed: Long = 7L): DataFrame =
    LshIndex.build(corpus, idCol, vecCol, planes, bands, seed,
        materialize = false) // one-shot: built and searched exactly once
      .search(queries, idCol, vecCol, k)

  /** Shared dim contract for every LSH banding loop: an empty or dim-0
    * plane set (empty-corpus index, planes = 0) bands everything to key 0
    * — downstream stages stay correct (empty or fully-verified candidate
    * sets); any OTHER mismatch is a caller error (wrong column / index
    * built on different vectors) and must fail loudly, not silently
    * truncate the dot products. */
  private[ops] def requireBandDim(vlen: Int, planesArr: Array[Array[Double]]): Unit = {
    val dim = if (planesArr.isEmpty) 0 else planesArr(0).length
    if (dim != 0 && vlen != dim)
      throw new IllegalArgumentException(
        s"vector dim $vlen does not match hyperplane dim $dim")
  }

  /** Banded (prefix+id, prefix+v, prefix+n, band, bkey) rows for `df`
    * (already normalized): the `planes`-bit sign signature split into
    * `bands` band keys. One per-partition primitive pass (planes × dim
    * multiplies per vector — a HOF-lambda dot runs interpreted and costs
    * an order of magnitude more); the key is the band's sign bits packed
    * into a Long (same bucket equivalence classes as hashing them).
    * Requires planes/bands ≤ 64. */
  private[ops] def banded(
      df: DataFrame,
      hp: Seq[Seq[Double]],
      bands: Int,
      prefix: String): DataFrame = {
    val r = hp.size / bands
    require(r <= 64, "at most 64 planes per band (packed key)")
    val spark = df.sparkSession
    val hpArr = hp.map(_.toArray).toArray
    val hpB = spark.sparkContext.broadcast(hpArr)
    val nb = bands
    // Row-based pass so the id keeps its original type (string ids work,
    // and the output id type matches bruteForceTopK's exactly).
    val base = df.select(col("id"), col("v"), col("nrm"))
    val outSchema = org.apache.spark.sql.types.StructType(
      base.schema.fields.zipWithIndex.map { case (f, i) =>
        f.copy(name = Seq(prefix + "id", prefix + "v", prefix + "n")(i))
      } ++ Seq(
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("bkey",
          org.apache.spark.sql.types.LongType, nullable = false)))
    val rdd = base.rdd.mapPartitions { it =>
      val planesArr = hpB.value
      it.flatMap { row =>
        val v = row.getSeq[Double](1).toArray
        requireBandDim(v.length, planesArr)
        (0 until nb).map { b =>
          var key = 0L
          var p = b * r
          while (p < (b + 1) * r) {
            val plane = planesArr(p)
            var d = 0.0
            var j = 0
            while (j < plane.length) { d += v(j) * plane(j); j += 1 }
            key = (key << 1) | (if (d > 0) 1L else 0L)
            p += 1
          }
          org.apache.spark.sql.Row(row.get(0), row.get(1), row.get(2), b, key)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Approximate cosine top-k via IVF (inverted-file) search: a k-means
    * coarse quantizer partitions the corpus into `nlist` cells, each query
    * probes its `nprobe` nearest cells, and exact cosine re-ranks the
    * candidates — the other classic sub-quadratic ANN layout next to
    * [[lshTopK]].
    *
    * Scale shape: training is MLlib k-means on the (unit-normalized)
    * corpus — sample upstream if the corpus is huge; assignment is one
    * distributed `transform` pass; the probe table is |queries|·nprobe
    * rows joined against cell-assigned corpus rows (never the full cross
    * product — the candidate fraction is ~nprobe/nlist); the centroid
    * table (nlist·dim doubles) is the only driver-side object. Output
    * shape matches [[bruteForceTopK]]; recall rises with nprobe.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 64,
      nprobe: Int = 8,
      seed: Long = 7L,
      trainFraction: Double = 1.0): DataFrame = {
    // Validate before the expensive quantizer build, not after.
    require(nprobe <= nlist, "nprobe must be <= nlist")
    IvfIndex.build(corpus, idCol, vecCol, nlist, seed, trainFraction)
      .search(queries, idCol, vecCol, k, nprobe)
  }

  /** Vector dimensionality, empty-safe: 0 for an empty input (all
    * downstream banding stages are empty-safe, so any dim works there;
    * `.head` would crash instead). */
  private[ops] def dimOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** Unit-normalized (id, v, nrm, uv) rows. */
  private[ops] def withUnit(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    normalized(df, idCol, vecCol)
      .withColumn("uv", transform(col("v"), x => x / col("nrm")))
}

/** A built IVF index — the build-once-search-many serving shape: the
  * k-means quantizer trains once, the corpus is cell-assigned once, and
  * every subsequent query batch pays only the probe join. State is the
  * cell-assigned corpus DataFrame (distributed) plus nlist·dim centroid
  * doubles on the driver; both persist via [[save]]/[[IvfIndex.load]],
  * so a 100 TB corpus is indexed once and served forever.
  */
final class IvfIndex private[ops] (
    /** (center components, ‖center‖²) per cell, in cell order. */
    val centroids: Seq[(Seq[Double], Double)],
    /** (cid, cv, cn, cell): corpus vectors with their cell assignment. */
    val assigned: DataFrame) extends Serializable {

  def nlist: Int = centroids.size

  /** Approximate cosine top-k of each query (output shape matches
    * [[Similarity.bruteForceTopK]]): each query scores all nlist
    * centroids, probes its `nprobe` nearest cells, and exact cosine
    * re-ranks the |queries|·nprobe/nlist candidate fraction. */
  def search(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int): DataFrame = {
    require(k > 0)
    val np = math.min(nprobe, nlist) // a degenerate corpus caps nlist
    import Similarity.dot
    // Small centroid table → literal; on unit queries ‖u−c‖² =
    // 1 + ‖c‖² − 2u·c, so rank cells by 2u·c − ‖c‖² descending.
    val probes = Similarity.withUnit(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("uv"), posexplode(typedLit(centroids)))
      .withColumn("csim", lit(2.0) * dot(col("uv"), col("col._1")) - col("col._2"))
      .withColumn("crank", row_number().over(
        Window.partitionBy("qid").orderBy(col("csim").desc, col("pos"))))
      .filter(col("crank") <= np)
      .select(col("qid"), col("qv"), col("qn"), col("pos").as("cell"))

    val scored = probes.join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Incremental add — the growing-corpus path: assign each new vector
    * to its nearest EXISTING cell (the frozen quantizer) and append.
    * Only the increment is materialized — the existing assigned rows
    * are untouched, which at cluster scale is an append of new parquet
    * partitions to [[save]]'s cells table. Assignment uses the same
    * argmin-distance rule as the build-time k-means transform, so
    * build(A).add(B) and assigning A∪B against the same centroids
    * agree row for row; quantizer drift under heavy growth is the
    * documented trade-off — rebuild when the added fraction gets
    * large. */
  def add(newRows: DataFrame, idCol: String, vecCol: String): IvfIndex =
    new IvfIndex(centroids,
      assigned.unionAll(
        IvfIndex.assignToCells(centroids, newRows, idCol, vecCol)
          .transform(graft.Tables.checkpoint)))

  /** Persist: the assigned corpus as parquet (natural partitioning, so
    * a billion-vector index writes in parallel) + centroids as JSON. */
  def save(path: String): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned.write.mode("overwrite").parquet(s"$path/cells")
    centroids.zipWithIndex.map { case ((c, n2), i) => (i, c, n2) }
      .toDF("cell", "center", "norm2")
      .coalesce(1).write.mode("overwrite").json(s"$path/centroids")
  }
}

/** A built LSH index — the hyperplane twin of [[IvfIndex]]: the corpus
  * is signed and banded once; each query batch signs itself against the
  * same (deterministic, seed-derived) hyperplanes and joins the stored
  * buckets. Driver state is planes·dim doubles; the banded corpus
  * persists via [[save]]/[[LshIndex.load]].
  */
final class LshIndex private[ops] (
    /** The hyperplanes (planes rows × dim components). */
    val planes: Seq[Seq[Double]],
    val bands: Int,
    /** (cid, cv, cn, band, bkey): banded corpus rows. */
    val bandedCorpus: DataFrame) extends Serializable {

  require(planes.nonEmpty && planes.size % bands == 0,
    "planes must divide into bands")

  /** Approximate cosine top-k (shape matches
    * [[Similarity.bruteForceTopK]]): bucket-join the query signatures
    * against the stored corpus bands, then exact cosine re-rank. */
  def search(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k > 0)
    import Similarity.dot
    val q = Similarity.banded(
      Similarity.normalized(queries, idCol, vecCol), planes, bands, "q")
    val c = bandedCorpus
    val cand = q.join(c,
        q("band") === c("band") && q("bkey") === c("bkey") && col("qid") =!= col("cid"))
      .select("qid", "qv", "qn", "cid", "cv", "cn")
      .dropDuplicates("qid", "cid")
    val scored = cand.withColumn("cosine",
      dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** The raw candidate pairs the bucket join surfaces for `queries` —
    * [[search]] before re-rank, as distinct (query_id, neighbor_id).
    * This is the audit surface: at a saturating design point (e.g.
    * planes = 512, bands = 64 → a cosine-0.9 neighbor is missed with
    * probability (1 − p⁸)⁶⁴ ≈ 3·10⁻¹⁰, p = 1 − θ/π), the true top-k
    * must be contained in these pairs, which a driver query checks by
    * semi-joining exact truth against them (same pattern as
    * `Dedup.minHashCandidates`). */
  def candidates(queries: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val q = Similarity.banded(
      Similarity.normalized(queries, idCol, vecCol), planes, bands, "q")
    val c = bandedCorpus
    q.join(c,
        q("band") === c("band") && q("bkey") === c("bkey") && col("qid") =!= col("cid"))
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
  }

  /** Persist: banded corpus as parquet, planes + band count as JSON. */
  def save(path: String): Unit = {
    val spark = bandedCorpus.sparkSession
    import spark.implicits._
    bandedCorpus.write.mode("overwrite").parquet(s"$path/bands")
    planes.zipWithIndex.map { case (p, i) => (i, p, bands) }
      .toDF("plane", "components", "bands")
      .coalesce(1).write.mode("overwrite").json(s"$path/planes")
  }
}

object LshIndex {

  /** Sign + band the corpus once (see [[Similarity.lshTopK]] for the
    * parameter semantics).
    *
    * `materialize` (default true, the serving shape) localCheckpoints the
    * banded corpus so repeated search() calls never re-run the banding
    * pass — for the session's lifetime only (checkpoint blocks die with
    * their executors; [[LshIndex.save]]/[[load]] is the durable path).
    * One-shot callers ([[Similarity.lshTopK]]) pass false and skip the
    * bands × corpus copy. */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int = 16,
      bands: Int = 4,
      seed: Long = 7L,
      materialize: Boolean = true): LshIndex = {
    // Checked here, not just in the constructor: with materialize the
    // banding job runs before construction and must not precede the error.
    require(planes > 0 && planes % bands == 0, "planes must divide into bands")
    val hp = Similarity.hyperplanes(Similarity.dimOf(corpus, vecCol), planes, seed)
    val banded =
      Similarity.banded(Similarity.normalized(corpus, idCol, vecCol), hp, bands, "c")
    new LshIndex(hp, bands,
      if (materialize) graft.Tables.checkpoint(banded) else banded)
  }

  /** Load an index written by [[LshIndex.save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): LshIndex = {
    val rows = spark.read.json(s"$path/planes")
      .select("plane", "components", "bands").collect()
      .sortBy(_.getLong(0))
    val hp = rows.map(_.getSeq[Double](1).toSeq).toSeq
    new LshIndex(hp, rows.head.getLong(2).toInt, spark.read.parquet(s"$path/bands"))
  }
}

object IvfIndex {

  /** Train the quantizer and cell-assign the corpus (see
    * [[Similarity.ivfTopK]] for the parameter semantics). */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 64,
      seed: Long = 7L,
      trainFraction: Double = 1.0): IvfIndex = {
    require(trainFraction > 0 && trainFraction <= 1, "trainFraction in (0, 1]")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    // Unit-normalize for training/assignment so euclidean k-means cells
    // group by direction (= cosine neighborhoods). Persisted: both the
    // k-means iterations and the assignment pass read one snapshot — a
    // nondeterministic corpus lineage can't diverge between them — and
    // unpersist below releases the blocks once the assigned table is
    // materialized.
    val c = Similarity.withUnit(corpus, idCol, vecCol)
      .withColumn("fv", array_to_vector(col("uv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Quantizer quality needs only a representative sample — train on a
      // deterministic id-hash slice (cells merely partition the search;
      // the full corpus is still assigned and searched).
      val trainSet =
        if (trainFraction >= 1.0) c
        else c.filter(pmod(xxhash64(col("id"), lit(seed)), lit(1000000))
          < lit((trainFraction * 1000000).toLong))
      // MLlib's k-means|| init indexes past the end when k exceeds the
      // training rows (and requires k >= 2): cap k at the available
      // rows — limit(nlist).count() touches at most nlist rows — and
      // below 2 rows skip MLlib entirely (the rows ARE the centroids).
      val distinctUv = trainSet.select(col("uv")).distinct()
        .orderBy("uv").limit(nlist + 1).collect()
      if (distinctUv.length <= nlist) {
        // At most nlist distinct directions: they ARE the (perfect)
        // quantizer — MLlib's aggregator indexes past the end here.
        val centers = distinctUv.map { r =>
          val cc = r.getSeq[Double](0).toArray
          (cc.toSeq, cc.map(x => x * x).sum)
        }.toSeq
        val assigned = IvfIndex
          .assignToCells(centers, c.select(col("id"), col("v")), "id", "v")
          .transform(graft.Tables.checkpoint)
        return new IvfIndex(centers, assigned)
      }
      val model = new KMeans()
        .setK(nlist).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("fv")
        .fit(trainSet)
      // Materialized (eager): search() must pay only the probe join,
      // never a re-assignment pass over the corpus — and the checkpoint
      // severs the lineage so the finally can release `c`.
      val assigned = model.transform(c)
        .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn"),
          col("prediction").as("cell"))
        .transform(graft.Tables.checkpoint)
      val centers = model.clusterCenters
        .map(cc => (cc.toArray.toSeq, cc.toArray.map(x => x * x).sum)).toSeq
      new IvfIndex(centers, assigned)
    } finally c.unpersist()
  }

  /** Load an index written by [[IvfIndex.save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val cents = spark.read.json(s"$path/centroids")
      .select("cell", "center", "norm2").collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getSeq[Double](1).toSeq, r.getDouble(2))).toSeq
    new IvfIndex(cents, spark.read.parquet(s"$path/cells"))
  }

  /** Nearest-cell assignment of `df` against a FROZEN centroid table:
    * (cid, cv, cn, cell) rows, the [[IvfIndex.assigned]] schema. Argmin
    * euclidean on unit vectors = argmax 2u·c − ‖c‖², first-min index on
    * ties — the same rule MLlib's k-means transform applies, so
    * incremental assignment and build-time assignment agree. One narrow
    * pass over a literal centroid table: no shuffle, no join. */
  private[ops] def assignToCells(
      centroids: Seq[(Seq[Double], Double)],
      df: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    import Similarity.dot
    Similarity.withUnit(df, idCol, vecCol)
      .select(col("id"), col("v"), col("nrm"), col("uv"),
        posexplode(typedLit(centroids)))
      .withColumn("csim", lit(2.0) * dot(col("uv"), col("col._1")) - col("col._2"))
      .withColumn("crank", row_number().over(
        Window.partitionBy("id").orderBy(col("csim").desc, col("pos"))))
      .filter(col("crank") === 1)
      .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn"),
        col("pos").as("cell"))
  }
}
