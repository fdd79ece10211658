package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cmf.{CholeskySolver, CollectiveALS, CollectiveALSModel, NormalEqAggregator}
import graft.eval.{RankingMetrics, RegressionEvaluation}
import graft.ops.ChronoSplit

/** `cmf_train`: a batch step (one 3-entity collective fit at rank 32, its
  * holdout evaluation, and top-10 lists for every user with NDCG@10), then
  * scoring requests, each for one block of users.
  *
  * Ratings come from planted rank-16 user and item factors plus Gaussian
  * noise; item popularity is Zipf-skewed and a user keeps an item with a
  * probability that rises with their planted affinity, so the held-out
  * items are predictable and NDCG@10 is well above chance. Each item
  * carries about three of the tags, rated from planted tag factors, so the
  * item factors are shared by two relations.
  */
final class CmfTrain(ctx: Ctx) extends Workload {
  import CmfTrain._

  private var s: SparkSession = _
  private var train: DataFrame = _
  private var tags: DataFrame = _
  private var holdout: DataFrame = _
  private var holdoutRows: Array[(Long, Long, Double)] = _
  private var candidates: DataFrame = _
  private var truth: Map[(Long, Long), Double] = _
  private var model: CollectiveALSModel = _
  private var lastTop: DataFrame = _
  private var lastRmse = Double.NaN
  private var lastNdcg = Double.NaN
  private val fitTimes = mutable.ArrayBuffer.empty[Double]
  private var nextBlock = 0

  def setup(session: SparkSession): Unit = {
    s = session
    val g = generate(ctx.seed)
    val ratingSchema = StructType(Seq(
      StructField("user", LongType), StructField("item", LongType),
      StructField("rating", DoubleType), StructField("ts", LongType), StructField("rid", LongType)))
    val ratings = frame(g.ratings.map(r => Row(r._1, r._2, r._3, r._4, r._5)).toSeq, ratingSchema)
    // The reference's protocol: the last 1% of ratings in time order is held out.
    val Seq(tr, te) = ctx.span("ops.chrono_split") {
      ChronoSplit.split(ratings, Seq(99.0, 1.0), "ts", "rid")
    }
    train = tr.select("user", "item", "rating").localCheckpoint(true)
    holdout = te.select("user", "item", "rating").localCheckpoint(true)
    holdoutRows = holdout.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    tags = frame(g.tags.map(t => Row(t._1, t._2, t._3)).toSeq,
      StructType(Seq(StructField("item", LongType), StructField("tag", LongType),
        StructField("rating", DoubleType))))
      .localCheckpoint(true)
    // Candidate pairs to score, plus the held-out pairs (which carry labels).
    truth = g.candidates.map(c => (c._1, c._2) -> c._3).toMap
    candidates = frame(g.candidates.map(c => Row(c._1, c._2, null)).toSeq,
      StructType(Seq(StructField("user", LongType), StructField("item", LongType),
        StructField("rating", DoubleType))))
      .unionByName(holdout)
      .localCheckpoint(true)
  }

  /** One untimed pass: with fewer iterations the first timed fit still
    * ran measurably slower than the later ones. */
  def warmup(): Unit = {
    pass()
    fitTimes.clear()
    nextBlock = 0
    release()
  }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, ctx.tracer.cores), schema)

  // One block per core. The adaptive default sizes blocks at about 100k
  // ratings, which at this input size is a single block: the normal
  // equations would then never cross a shuffle, unlike on a cluster-sized
  // input, and the fit would run on one core.
  private def estimator(iters: Int): CollectiveALS =
    new CollectiveALS("user", "item", "tag")
      .setRank(Rank).setMaxIter(iters).setRegParam(Lambda).setSeed(ctx.seed)
      .setNumBlocks(ctx.tracer.cores)

  override def minPasses: Int = 4

  def pass(): Pass = {
    val t0 = System.nanoTime()
    model = ctx.span("cmf.fit") {
      estimator(Iters).fit(("user", "item") -> train, ("item", "tag") -> tags)
    }
    fitTimes += ctx.ms(t0)
    evaluate()
    val batchMs = ctx.ms(t0)
    val requests = (0 until RequestsPerPass).map { _ =>
      val t1 = System.nanoTime()
      score(nextBlock % Blocks)
      nextBlock += 1
      ctx.ms(t1)
    }
    Pass(batchMs, requests)
  }

  private def inBlock(c: String, b: Int) = pmod(col(c), lit(Blocks.toLong)) === b

  /** The batch step after the fit: holdout RMSE, then top-10 lists for
    * every user (kept for the checks) and their NDCG@10 on the holdout. */
  private def evaluate(): Unit = {
    lastRmse = ctx.span("eval") {
      RegressionEvaluation.evaluate(model.predict(holdout), "rating", "prediction")
        .select("rmse").head().getDouble(0)
    }
    lastTop = ctx.span("cmf.recommend") { model.recommendTopK(TopK).localCheckpoint(true) }
    lastNdcg = ctx.span("eval") {
      new RankingMetrics(lastTop, holdout).setPredictionCol("score").ndcgAt(Seq(TopK)).head
    }
  }

  /** One scoring request: the block's candidate pairs, scored and
    * returned to the caller. */
  private def score(b: Int): Unit = ctx.span("cmf.predict") {
    model.predict(candidates.filter(inBlock("user", b))).collect()
  }

  override def release(): Unit = {
    if (model != null) model.factors.foreach(_.unpersist(true))
    if (lastTop != null) lastTop.unpersist(true)
  }

  def check(): (Seq[Check], Map[String, Double]) = {
    val checks = mutable.ArrayBuffer.empty[Check]
    def factorMap(df: DataFrame): Map[Long, Array[Float]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val uf = factorMap(model.factors(0))
    val itf = factorMap(model.factors(1))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var j = 0
      while (j < a.length) { acc += a(j).toDouble * b(j); j += 1 }
      acc
    }
    checks += Check("cmf.factors.rank",
      (uf.valuesIterator ++ itf.valuesIterator).forall(_.length == Rank), s"rank $Rank")

    // Predictions: the factor dot product, NaN exactly for cold ids.
    val sample = candidates.filter(col("rating").isNull).unionByName(holdout)
    val preds = model.predict(sample).select("user", "item", "rating", "prediction").collect()
    val badPred = preds.count { r =>
      val p = r.getFloat(3)
      (uf.get(r.getLong(0)), itf.get(r.getLong(1))) match {
        case (Some(a), Some(b)) =>
          val want = dot(a, b)
          p.isNaN || math.abs(p - want) > 1e-4 * math.max(1.0, math.abs(want))
        case _ => !p.isNaN
      }
    }
    checks += Check("cmf.predict.dot", badPred == 0, s"$badPred of ${preds.length} predictions wrong")

    // Holdout RMSE recomputed from the collected predictions.
    val scored = preds.filter(r => !r.isNullAt(2) && !r.getFloat(3).isNaN)
    val rmse = math.sqrt(scored.map(r => math.pow(r.getFloat(3) - r.getDouble(2), 2)).sum / scored.length)
    checks += Check("eval.rmse", math.abs(rmse - lastRmse) <= 1e-6 * rmse, s"recomputed $rmse, library $lastRmse")
    // Quality, on the candidates against their planted noise-free ratings:
    // thousands of pairs, where the holdout has about a hundred.
    val known = preds.filter(r => r.isNullAt(2) && !r.getFloat(3).isNaN)
      .map(r => (r.getFloat(3).toDouble, truth((r.getLong(0), r.getLong(1)))))
    val truthRmse = math.sqrt(known.map { case (p, t) => (p - t) * (p - t) }.sum / known.length)
    val zeroRmse = math.sqrt(known.map { case (_, t) => t * t }.sum / known.length)
    checks += Check("quality.rmse", truthRmse < 0.9 * zeroRmse,
      s"RMSE $truthRmse against the planted ratings of ${known.length} candidates, $zeroRmse for predicting 0")

    // The last pass's top-10 lists: k rows per user, in score order, equal
    // to the exact top-10 over the collected item factors (ties allowed at
    // the cut).
    val top = lastTop.select("user", "item", "score", "rank").collect()
    val byUser = top.groupBy(_.getLong(0))
    val items = itf.toArray
    val sampleUsers = uf.keys.toSeq.sorted.take(300)
    val badTop = sampleUsers.count { u =>
      val rows = byUser.getOrElse(u, Array.empty[Row]).sortBy(_.getInt(3))
      val exact = items.map { case (i, f) => dot(uf(u), f) }.sorted(Ordering[Double].reverse)
      val cut = exact(TopK - 1)
      rows.length != TopK ||
        rows.map(_.getInt(3)).toSeq != (1 to TopK) ||
        rows.sliding(2).exists(p => p(0).getFloat(2) < p(1).getFloat(2)) ||
        rows.exists { r =>
          val want = dot(uf(u), itf(r.getLong(1)))
          math.abs(r.getFloat(2) - want) > 1e-4 * math.max(1.0, math.abs(want)) ||
            want < cut - 1e-4 * math.max(1.0, math.abs(cut))
        }
    }
    checks += Check("cmf.recommend.topk", badTop == 0, s"$badTop of ${sampleUsers.size} users wrong")
    checks += Check("cmf.recommend.users", byUser.size == uf.size, s"${byUser.size} users with lists, ${uf.size} with factors")

    // NDCG@10 recomputed from the collected lists (binary relevance,
    // every user with a held-out item counts; score desc, item asc).
    val rel = holdoutRows.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).toSet }
    val ndcg = rel.toSeq.map { case (u, items) =>
      val ranked = byUser.getOrElse(u, Array.empty[Row])
        .sortBy(r => (-r.getFloat(2), r.getLong(1))).take(TopK)
      val dcg = ranked.zipWithIndex.collect { case (r, i) if items(r.getLong(1)) => 1.0 / log2(i + 2.0) }.sum
      val idcg = (1 to math.min(items.size, TopK)).map(i => 1.0 / log2(i + 1.0)).sum
      dcg / idcg
    }.sum / rel.size
    checks += Check("eval.ndcg", math.abs(ndcg - lastNdcg) <= 1e-9, s"recomputed $ndcg, library $lastNdcg")
    (checks.toSeq, Map("quality.holdout_rmse" -> rmse, "quality.ndcg_at_10" -> ndcg))
  }

  private def log2(x: Double) = math.log(x) / math.log(2)

  /** Per-layer figures that need their own runs: the fit split into
    * preparation and iterations, the normal-equation and solver kernels
    * on generated inputs, and two yardstick fits on the user–item
    * relation alone. */
  override def extras(): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val t0 = System.nanoTime()
    val one = ctx.span("cmf.fit1") {
      estimator(1).fit(("user", "item") -> train, ("item", "tag") -> tags)
    }
    val oneMs = ctx.ms(t0)
    one.factors.foreach(_.unpersist(true))
    val iterMs = (Stats.median(fitTimes.toSeq) - oneMs) / (Iters - 1)
    out("cmf.fit.iter_ms") = iterMs
    out("cmf.fit.prep_ms") = oneMs - iterMs

    val two = ctx.span("cmf.fit2") {
      new CollectiveALS("user", "item").setRank(Rank).setMaxIter(Iters).setRegParam(Lambda)
        .setSeed(ctx.seed).setNumBlocks(ctx.tracer.cores).fit(train)
    }
    two.factors.foreach(_.unpersist(true))
    ctx.span("cmf.mllib") {
      val als = new org.apache.spark.ml.recommendation.ALS()
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .setRank(Rank).setMaxIter(Iters).setRegParam(Lambda).setSeed(ctx.seed)
        .setNumBlocks(ctx.tracer.cores)
      val m = als.fit(train.select(col("user").cast("int"), col("item").cast("int"), col("rating")))
      m.userFactors.count(); m.itemFactors.count()
    }
    out ++= kernels(ctx.seed)
    out.toMap
  }
}

object CmfTrain {
  val Users = 500
  val Items = 200
  val TagCount = 20
  val Ratings = 10000
  val CandidatesPerUser = 5
  val Planted = 16
  val Noise = 0.5
  val Rank = 32
  val Iters = 3
  val Lambda = 0.1
  val TopK = 10
  val Blocks = 8
  val RequestsPerPass = 8

  final case class Data(
      ratings: Array[(Long, Long, Double, Long, Long)],
      tags: Array[(Long, Long, Double)],
      candidates: Array[(Long, Long, Double)])

  def generate(seed: Long): Data = {
    val rnd = new SplittableRandom(seed)
    val scale = 1.0 / math.pow(Planted, 0.25)
    def factors(n: Int) = Array.fill(n, Planted)(rnd.nextGaussian() * scale)
    val u = factors(Users); val v = factors(Items); val t = factors(TagCount)
    def dot(a: Array[Double], b: Array[Double]) = { var s = 0.0; var j = 0; while (j < a.length) { s += a(j) * b(j); j += 1 }; s }
    val cum = Zipf.cumulative(Items, 0.9)
    // A Zipf-drawn item, kept with probability sigmoid(2·affinity).
    def drawItem(user: Int): Int = {
      var item = Zipf.draw(cum, rnd)
      while (rnd.nextDouble() > 1.0 / (1.0 + math.exp(-2.0 * dot(u(user), v(item))))) item = Zipf.draw(cum, rnd)
      item
    }
    val ratings = Array.tabulate(Ratings) { r =>
      val user = rnd.nextInt(Users)
      val item = drawItem(user)
      (user.toLong, item.toLong, dot(u(user), v(item)) + Noise * rnd.nextGaussian(),
        rnd.nextLong(1000000000L), r.toLong)
    }
    val tags = (0 until Items).toArray.flatMap { i =>
      val chosen = mutable.LinkedHashSet.empty[Int]
      while (chosen.size < 3) chosen += rnd.nextInt(TagCount)
      chosen.toArray.map(tg => (i.toLong, tg.toLong, dot(v(i), t(tg)) + Noise * rnd.nextGaussian()))
    }
    // Candidates are drawn as ratings are: items the user would plausibly
    // rate, with their noise-free planted rating.
    val candidates = (0 until Users).toArray.flatMap { user =>
      Array.fill(CandidatesPerUser) {
        val item = drawItem(user)
        (user.toLong, item.toLong, dot(u(user), v(item)))
      }
    }
    Data(ratings, tags, candidates)
  }

  /** Nanoseconds per call of the normal-equation aggregator and the
    * Cholesky solver at the workload's rank, on generated inputs. */
  def kernels(seed: Long): Map[String, Double] = {
    val rnd = new SplittableRandom(seed)
    val agg = new NormalEqAggregator(Rank, false, 1.0)
    val rows = Array.fill(4096)((Array.fill(Rank)(rnd.nextGaussian().toFloat), rnd.nextGaussian().toFloat, 0))
    def perCall(reps: Int)(body: Int => Unit): Double = {
      (0 until reps / 4).foreach(body) // warm-up
      val t0 = System.nanoTime()
      (0 until reps).foreach(body)
      (System.nanoTime() - t0).toDouble / reps
    }
    var buf = agg.zero
    val reduceNs = perCall(400000)(i => buf = agg.reduce(buf, rows(i & 4095)))
    val parts = Array.fill(64)(rows.take(64).foldLeft(agg.zero)(agg.reduce))
    var merged = agg.zero
    val mergeNs = perCall(40000)(i => merged = agg.merge(merged, parts(i & 63)))
    val solver = new CholeskySolver(Rank)
    val eqs = parts.map(p => (p.ata, p.atb, p.n.toDouble))
    var sink = 0.0f
    val solveNs = perCall(40000) { i =>
      val (ata, atb, n) = eqs(i & 63)
      sink += solver.solve(ata, atb, n * Lambda)(0)
    }
    require(!sink.isNaN && merged.n > 0 && buf.n > 0)
    Map("cmf.normal_eq.reduce_ns" -> reduceNs, "cmf.normal_eq.merge_ns" -> mergeNs,
      "cmf.solve.cholesky_ns" -> solveNs)
  }

  /** Zipf-distributed integers in [0, n) by inverse-CDF lookup. */
  private object Zipf {
    def cumulative(n: Int, s: Double): Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(cum: Array[Double], rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, cum.length - 1)
    }
  }
}
