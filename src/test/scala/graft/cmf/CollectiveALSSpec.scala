package graft.cmf

import graft.SparkSpec
import graft.eval.RegressionEvaluation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fit-quality specs mirroring the reference's test flow
  * (`/root/reference/src/test/scala/com/github/jongwook/cmf/MovieLensALS.scala:39-45`:
  * fit, predict, assert regression metrics) on deterministic synthetic
  * low-rank data. */
class CollectiveALSSpec extends SparkSpec {
  import spark.implicits._

  private val trueRank = 4
  private val nUsers = 120
  private val nItems = 40

  /** rating(u,i) = <f(u), f(i)> · 5 from deterministic signed Gaussian
    * factors at ~50% density — exactly rank-4, well-conditioned, and
    * oversampled enough (2400 obs vs 640 params) for ALS to fit tightly
    * (verified: pure-local ALS with the same solver reaches RMSE ≈ 0.006
    * in 10 iterations). */
  private lazy val ratings: DataFrame = {
    val rows = for {
      u <- 0 until nUsers
      i <- 0 until nItems
      if CollectiveALS.splitmix64(u * 10007L + i) % 2 == 0
    } yield {
      val fu = PlantedFactors.signedFactor(1L, u, trueRank)
      val fi = PlantedFactors.signedFactor(2L, i, trueRank)
      val r = fu.zip(fi).map { case (a, b) => a * b }.sum * 5.0f
      (u.toLong, i.toLong, r)
    }
    rows.toDF("user", "item", "rating")
  }

  /** Nonnegative ground truth (first-quadrant factors) for the NNLS fit. */
  private lazy val nonnegRatings: DataFrame = {
    val rows = for {
      u <- 0 until nUsers
      i <- 0 until nItems
      if CollectiveALS.splitmix64(u * 10007L + i) % 2 == 0
    } yield {
      val fu = CollectiveALS.initFactor(1L, u, trueRank)
      val fi = CollectiveALS.initFactor(2L, i, trueRank)
      (u.toLong, i.toLong, fu.zip(fi).map { case (a, b) => a * b }.sum * 5.0f)
    }
    rows.toDF("user", "item", "rating")
  }

  /** Preference-driven observations for implicit prefs: user u interacts
    * with item i iff their latent affinity is positive. */
  private lazy val implicitObs: DataFrame = {
    val rows = for {
      u <- 0 until nUsers
      i <- 0 until nItems
      if {
        val fu = PlantedFactors.signedFactor(1L, u, trueRank)
        val fi = PlantedFactors.signedFactor(2L, i, trueRank)
        fu.zip(fi).map { case (a, b) => a * b }.sum > 0
      }
    } yield (u.toLong, i.toLong, 1.0f)
    rows.toDF("user", "item", "rating")
  }

  test("explicit ALS fits exact low-rank data to small RMSE") {
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(10).setRegParam(0.001).setSeed(7L)
      .fit(ratings)
    val scored = model.predict(ratings)
    val rmse = RegressionEvaluation.evaluate(scored, "rating", "prediction")
      .select("rmse").head.getDouble(0)
    assert(rmse < 0.02, s"rmse $rmse")
  }

  test("implicit ALS ranks observed pairs above unobserved ones") {
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(10).setRegParam(0.05).setAlpha(10.0)
      .setImplicitPrefs(true).setSeed(7L)
      .fit(implicitObs)
    val observed = model.predict(implicitObs)
      .agg(avg("prediction")).head.getDouble(0)
    val unobserved = for {
      u <- 0 until nUsers
      i <- 0 until nItems
      if {
        val fu = PlantedFactors.signedFactor(1L, u, trueRank)
        val fi = PlantedFactors.signedFactor(2L, i, trueRank)
        fu.zip(fi).map { case (a, b) => a * b }.sum <= 0
      }
    } yield (u.toLong, i.toLong)
    val negScore = model.predict(unobserved.toDF("user", "item"))
      .agg(avg("prediction")).head.getDouble(0)
    assert(observed > negScore + 0.3,
      s"observed $observed should clearly exceed unobserved $negScore")
  }

  test("implicit 3-entity collective fit merges per-relation Grams (mask path)") {
    // Two implicit relations share the item entity, so each item solve
    // must add exactly the YtY Grams of the relations observing that id —
    // the per-relation mask branch in solveFactors, which a single
    // relation never exercises. Observations: (user,item) iff user-item
    // affinity > 0; (item,tag) iff item-tag affinity > 0.
    val itemTagObs = (for {
      i <- 0 until nItems
      t <- 0 until 10
      if {
        val fi = PlantedFactors.signedFactor(2L, i, trueRank)
        val ft = PlantedFactors.signedFactor(3L, t, trueRank)
        fi.zip(ft).map { case (a, b) => a * b }.sum > 0
      }
    } yield (i.toLong, t.toLong, 1.0f)).toDF("item", "tag", "rating")
    val model = new CollectiveALS("user", "item", "tag")
      .setRank(4).setMaxIter(10).setRegParam(0.05).setAlpha(10.0)
      .setImplicitPrefs(true).setSeed(7L)
      .fit(("user", "item") -> implicitObs, ("item", "tag") -> itemTagObs)
    // Per relation: observed pairs must rank clearly above unobserved.
    def separation(obs: DataFrame, l: String, r: String, nl: Int, nr: Int): Double = {
      val obsSet = obs.select(l, r).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val unobs = (for {
        a <- 0 until nl; b <- 0 until nr
        if !obsSet.contains((a.toLong, b.toLong))
      } yield (a.toLong, b.toLong)).toDF(l, r)
      val pos = model.predict(obs, l, r).agg(avg("prediction")).head.getDouble(0)
      val neg = model.predict(unobs, l, r).agg(avg("prediction")).head.getDouble(0)
      pos - neg
    }
    val sepUserItem = separation(implicitObs, "user", "item", nUsers, nItems)
    val sepItemTag = separation(itemTagObs, "item", "tag", nItems, 10)
    assert(sepUserItem > 0.3, s"user-item separation $sepUserItem")
    assert(sepItemTag > 0.3, s"item-tag separation $sepItemTag")
  }

  test("nonnegative fit produces nonnegative factors with sane RMSE") {
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(15).setRegParam(0.001).setNonnegative(true).setSeed(7L)
      .fit(nonnegRatings)
    model.factors.foreach { f =>
      val negs = f.select(explode(col("features")).as("v")).filter(col("v") < 0).count()
      assert(negs == 0, s"$negs negative factor entries")
    }
    val rmse = RegressionEvaluation
      .evaluate(model.predict(nonnegRatings), "rating", "prediction")
      .select("rmse").head.getDouble(0)
    // Ratings are nonnegative products of nonnegative factors — NNLS
    // should still fit well.
    assert(rmse < 0.2, s"nnls rmse $rmse")
  }

  test("collective 3-entity fit shares factors and predicts both relations") {
    val attrs = (0 until nItems).flatMap { i =>
      Seq((i.toLong, (i % 5).toLong, 1.0f))
    }.toDF("item", "tag", "rating")
    val model = new CollectiveALS("user", "item", "tag")
      .setRank(4).setMaxIter(8).setRegParam(0.05).setSeed(7L)
      .fit(("user", "item") -> ratings, ("item", "tag") -> attrs)
    val p1 = model.predict(ratings, "user", "item")
    val p2 = model.predict(attrs, "item", "tag")
    assert(p1.filter(isnan(col("prediction"))).count() == 0)
    assert(p2.filter(isnan(col("prediction"))).count() == 0)
    val rmse = RegressionEvaluation.evaluate(p1, "rating", "prediction")
      .select("rmse").head.getDouble(0)
    assert(rmse < 1.0, s"collective rmse $rmse") // side info trades some fit
  }

  test("cold-start ids predict NaN") {
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(2).setRegParam(0.1).setSeed(7L)
      .fit(ratings)
    val probe = Seq((999999L, 0L), (0L, 999999L), (0L, 0L)).toDF("user", "item")
    val rows = model.predict(probe).collect()
    val nans = rows.count(r => r.getFloat(r.fieldIndex("prediction")).isNaN)
    assert(nans == 2, s"expected 2 NaN cold-start predictions, got $nans")
  }

  test("block/checkpoint/storage tuning knobs preserve fit quality") {
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(10).setRegParam(0.001).setSeed(7L)
      .setNumUserBlocks(4).setNumItemBlocks(2)
      .setCheckpointInterval(3)
      .setIntermediateStorageLevel("MEMORY_ONLY")
      .setFinalStorageLevel("MEMORY_AND_DISK")
      .fit(ratings)
    val rmse = RegressionEvaluation.evaluate(model.predict(ratings), "rating", "prediction")
      .select("rmse").head.getDouble(0)
    assert(rmse < 0.02, s"rmse $rmse")
  }

  test("empty ratingCol fits on constant 1.0 ratings (reference semantics)") {
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(2).setRegParam(0.1).setSeed(7L)
      .setRatingCol("")
      .fit(ratings.select("user", "item")) // no rating column at all
    val p = model.predict(ratings.select("user", "item"))
    assert(p.filter(isnan(col("prediction"))).count() == 0)
  }

  test("string entity ids fail fast instead of null-merging") {
    // Under ANSI (Spark 4 default) the engine itself rejects the cast
    // (CAST_INVALID_INPUT); with ANSI off, the fit's null-id guard
    // catches the try-cast nulls. Either way: an error, never a silent
    // merge of all unparseable ids into one normal equation.
    val bad = Seq(("u1", 1L, 1.0f), ("u2", 2L, 2.0f)).toDF("user", "item", "rating")
    val err = intercept[Exception] {
      new CollectiveALS().setRank(2).setMaxIter(1).fit(bad)
    }
    assert(err.getMessage.contains("numeric") ||
      err.getMessage.contains("CAST_INVALID_INPUT"), err.getMessage)
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      val err2 = intercept[IllegalArgumentException] {
        new CollectiveALS().setRank(2).setMaxIter(1).fit(bad)
      }
      assert(err2.getMessage.contains("numeric"), err2.getMessage)
    }
  }

  test("a failed explicit-block id audit releases every layout it persisted") {
    // setNumBlocks skips fit()'s stats pass, so the id check runs as the
    // audit on the already-persisted rating layouts inside fitWith.
    val bad = Seq(("u1", 1L, 1.0f), ("u2", 2L, 2.0f)).toDF("user", "item", "rating")
    def failsClean(expected: Class[_ <: Exception], needle: String): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val err = intercept[Exception] {
        new CollectiveALS().setRank(2).setMaxIter(1).setNumBlocks(2).fit(bad)
      }
      assert(expected.isInstance(err), err.toString)
      assert(err.getMessage.contains(needle), err.getMessage)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"RDDs left persisted by the failed fit: $leaked")
    }
    withSQLConf("spark.sql.ansi.enabled" -> "true") {
      failsClean(classOf[Exception], "CAST_INVALID_INPUT")
    }
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      failsClean(classOf[IllegalArgumentException], "numeric")
    }
  }

  private def withSQLConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("unknown entities and bad configs fail fast") {
    intercept[IllegalArgumentException] {
      new CollectiveALS("user") // single entity
    }
    intercept[IllegalArgumentException] {
      new CollectiveALS("user", "item")
        .fit(("user", "genre") -> ratings) // undeclared entity
    }
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(1).setRegParam(0.1).setSeed(7L).fit(ratings)
    intercept[IllegalArgumentException] {
      model.factorsFor("nope")
    }
    intercept[IllegalArgumentException] {
      model.recommendTopK(0) // k must be positive
    }
  }

  test("model save/load round-trips factors, rank, and columns") {
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(3).setRegParam(0.1).setSeed(7L)
      .fit(ratings)
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString
    model.save(dir)
    val loaded = CollectiveALSModel.load(spark, dir)
    assert(loaded.rank == model.rank)
    assert(loaded.userCol == "user" && loaded.itemCol == "item")
    val want = model.predict(ratings).select("user", "item", "prediction")
      .collect().map(_.toSeq).toSet
    val got = loaded.predict(ratings).select("user", "item", "prediction")
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("release frees a fitted model's factor checkpoints and is a no-op on a loaded model") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(2).setRegParam(0.1).setSeed(7L)
      .fit(ratings)
    val held = model.factors.flatMap(graft.Tables.checkpoints).map(_.id).toSet
    assert(held.size == 2 && held.subsetOf(sc.getPersistentRDDs.keySet))
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString
    model.save(dir)
    val loaded = CollectiveALSModel.load(spark, dir)
    val persisted = sc.getPersistentRDDs.keySet
    loaded.release()
    assert(sc.getPersistentRDDs.keySet == persisted)
    assert(loaded.predict(ratings).count() == ratings.count())
    model.release()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("model entity-column mutators rename the predict join keys") {
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(2).setRegParam(0.1).setSeed(7L)
      .fit(ratings)
    model.setEntityCols(Seq("u", "i")).setPredictionCol("score")
    val renamed = ratings.withColumnRenamed("user", "u").withColumnRenamed("item", "i")
    val out = model.predict(renamed)
    assert(out.columns.contains("score"))
    assert(out.filter(isnan(col("score"))).count() == 0)
    model.setUserCol("user").setItemCol("item").setPredictionCol("prediction")
    assert(model.predict(ratings).columns.contains("prediction"))
  }

  /** (left, right, score, rank) rows of a top-k frame. */
  private def topRows(rec: DataFrame, l: String, r: String): Set[(Long, Long, Float, Int)] =
    rec.select(l, r, "score", "rank").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getFloat(2), x.getInt(3))).toSet

  /** The definition recommendTopK must meet: `predict` over the full
    * left × right cross, then `row_number()` over (prediction desc, right
    * id), cut at k. */
  private def bruteTopK(model: CollectiveALSModel, l: String, r: String, k: Int): Set[(Long, Long, Float, Int)] = {
    val ls = model.factorsFor(l).select(col("id").as(l))
    val rs = model.factorsFor(r).select(col("id").as(r))
    val ranked = model.predict(ls.crossJoin(rs), l, r)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(l).orderBy(col("prediction").desc, col(r))))
      .filter(col("rank") <= k)
      .withColumnRenamed("prediction", "score")
    topRows(ranked, l, r)
  }

  private lazy val userItemModel = new CollectiveALS()
    .setRank(4).setMaxIter(5).setRegParam(0.01).setSeed(7L)
    .fit(ratings)

  /** A 3-entity fit: (user, item) ratings plus planted (item, tag) ratings
    * over 10 tags. */
  private lazy val userItemTagModel = {
    val tags = (for {
      i <- 0 until nItems
      t <- 0 until 10
      if CollectiveALS.splitmix64(i * 31L + t) % 3 == 0
    } yield {
      val fi = PlantedFactors.signedFactor(2L, i, trueRank)
      val ft = PlantedFactors.signedFactor(3L, t, trueRank)
      (i.toLong, t.toLong, fi.zip(ft).map { case (a, b) => a * b }.sum * 5.0f)
    }).toDF("item", "tag", "rating")
    new CollectiveALS("user", "item", "tag")
      .setRank(4).setMaxIter(5).setRegParam(0.05).setSeed(7L).setNumBlocks(2)
      .fit(("user", "item") -> ratings, ("item", "tag") -> tags)
  }

  test("recommendTopK returns k deterministic, correctly ranked items") {
    val rec = userItemModel.recommendTopK(3)
    val counts = rec.groupBy("user").count().select("count").distinct().collect()
    assert(counts.map(_.getLong(0)).toSeq == Seq(3L))
    val got = topRows(rec, "user", "item")
    val want = bruteTopK(userItemModel, "user", "item", 3)
    assert(got == want, s"${(want -- got).take(3)} vs ${(got -- want).take(3)}")
  }

  test("recommendTopK on a 3-entity model's non-default pair equals predict and window") {
    val got = topRows(userItemTagModel.recommendTopK(3, "item", "tag"), "item", "tag")
    val want = bruteTopK(userItemTagModel, "item", "tag", 3)
    assert(got.size == nItems * 3)
    assert(got == want, s"${(want -- got).take(3)} vs ${(got -- want).take(3)}")
  }

  test("recommendTopK with k above the right side's size ranks every right id 1..n") {
    val k = nItems + 7
    val got = topRows(userItemModel.recommendTopK(k), "user", "item")
    assert(got.groupBy(_._1).values.forall { rs =>
      rs.map(_._4).toSeq.sorted == (1 to nItems) && rs.map(_._2).size == nItems
    })
    assert(got == bruteTopK(userItemModel, "user", "item", k))
  }

  test("recommendTopK ranks equal float scores by right id ascending") {
    // Items in three groups of identical factors, ids scrambled across
    // groups: every user's scores tie within a group.
    val itemIds = Seq(17L, 3L, 11L, 5L, 8L, 2L, 13L, 1L, 9L)
    val groups = Seq(Array(1.0f, 0.5f), Array(0.25f, 2.0f), Array(-1.0f, 1.0f))
    val items = itemIds.zipWithIndex.map { case (id, j) => (id, groups(j % 3)) }.toDF("id", "features")
    val users = Seq((1L, Array(1.0f, 1.0f)), (2L, Array(2.0f, -1.0f)), (3L, Array(0.0f, 0.0f)))
      .toDF("id", "features")
    val want = (for {
      (u, uf) <- Seq((1L, Array(1.0f, 1.0f)), (2L, Array(2.0f, -1.0f)), (3L, Array(0.0f, 0.0f)))
      ranked = itemIds.zipWithIndex
        .map { case (id, j) => (id, (uf(0).toDouble * groups(j % 3)(0) + uf(1).toDouble * groups(j % 3)(1)).toFloat) }
        .sortBy { case (id, s) => (-s, id) }
      ((id, s), r) <- ranked.take(5).zipWithIndex
    } yield (u, id, s, r + 1)).toSet
    val built = new CollectiveALSModel(2, Seq(users, items), Seq("user", "item"))
    assert(topRows(built.recommendTopK(5), "user", "item") == want)
    assert(topRows(built.recommendTopK(5, "user", "item", numBlocks = 4, numLeftBlocks = 2),
      "user", "item") == want)
  }

  test("recommendTopK is invariant to block geometry") {
    // Blocks are an execution detail: any (leftBlocks, rightBlocks) split
    // must produce identical rows.
    val model = userItemModel
    val base = topRows(model.recommendTopK(4), "user", "item")
    val skewed = topRows(model.recommendTopK(4, "user", "item",
      numBlocks = 7, numLeftBlocks = 3), "user", "item")
    val singleton = topRows(model.recommendTopK(4, "user", "item",
      numBlocks = 1, numLeftBlocks = 1), "user", "item")
    assert(skewed == base)
    assert(singleton == base)
  }

  test("a saved and loaded model recommends the same rows") {
    val model = userItemTagModel
    val dir = java.nio.file.Files.createTempDirectory("graft_topk").toString
    model.save(dir)
    val loaded = CollectiveALSModel.load(spark, dir)
    assert(topRows(loaded.recommendTopK(4), "user", "item") ==
      topRows(model.recommendTopK(4), "user", "item"))
    assert(topRows(loaded.recommendTopK(2, "item", "tag"), "item", "tag") ==
      topRows(model.recommendTopK(2, "item", "tag"), "item", "tag"))
  }

  test("recommendTopK on a fitted model builds without a job and runs in at most two") {
    // Guards against count jobs at build time and a grouping shuffle or
    // window at run time coming back.
    import org.apache.spark.graftshim.JobCount
    val model = userItemTagModel
    for ((l, r) <- Seq(("user", "item"), ("item", "tag"))) {
      val (rec, built) = JobCount(spark.sparkContext)(model.recommendTopK(5, l, r))
      val (rows, ran) = JobCount(spark.sparkContext)(rec.collect())
      assert(built == 0, s"$l -> $r: $built jobs while building")
      assert(ran <= 2, s"$l -> $r: $ran jobs to materialize")
      assert(rows.nonEmpty)
    }
  }

  test("recommendTopK over factor tables that hold a shuffle builds without a job") {
    // The right and left factor frames are aggregates: planning either
    // under AQE runs its shuffle stage, which must wait for the caller's
    // job.
    import org.apache.spark.graftshim.JobCount
    val model = userItemTagModel
    def aggregated(e: String) = model.factorsFor(e).groupBy("id").agg(first("features").as("features"))
    val shuffled = new CollectiveALSModel(model.rank, Seq("user", "item", "tag").map(aggregated),
      Seq("user", "item", "tag"))
    for ((l, r) <- Seq(("user", "item"), ("item", "tag"))) {
      val (rec, built) = JobCount(spark.sparkContext)(shuffled.recommendTopK(5, l, r))
      assert(built == 0, s"$l -> $r: $built jobs while building")
      assert(topRows(rec, l, r) == topRows(model.recommendTopK(5, l, r), l, r))
    }
  }

  /** Dense ridge solve (AᵀA + λI)x = Aᵀb by Gaussian elimination — the
    * independent reference implementation for the fold-in spec. */
  private def ridgeSolve(a: Seq[Array[Float]], b: Seq[Float], lambda: Double): Array[Double] = {
    val k = a.head.length
    val m = Array.ofDim[Double](k, k + 1)
    for (row <- a.indices; i <- 0 until k) {
      for (j <- 0 until k) m(i)(j) += a(row)(i).toDouble * a(row)(j)
      m(i)(k) += a(row)(i).toDouble * b(row)
    }
    for (i <- 0 until k) m(i)(i) += lambda
    for (p <- 0 until k) {
      val piv = (p until k).maxBy(r => math.abs(m(r)(p)))
      val t = m(p); m(p) = m(piv); m(piv) = t
      for (r <- p + 1 until k) {
        val f = m(r)(p) / m(p)(p)
        for (c <- p to k) m(r)(c) -= f * m(p)(c)
      }
    }
    val x = new Array[Double](k)
    for (p <- (k - 1) to 0 by -1) {
      x(p) = (m(p)(k) - (p + 1 until k).map(c => m(p)(c) * x(c)).sum) / m(p)(p)
    }
    x
  }

  test("foldIn solves the exact ridge system against frozen item factors") {
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(5).setRegParam(0.01).setSeed(7L)
      .fit(ratings)
    val itemF = model.factorsFor("item").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // A brand-new user rating 6 known items, plus one rating on an id the
    // model has never seen (must be ignored), folded in at reg 0.05.
    val newRatings = Seq(
      (900L, 0L, 2.5f), (900L, 1L, -1.0f), (900L, 5L, 3.0f),
      (900L, 9L, 0.5f), (900L, 12L, -2.0f), (900L, 20L, 1.5f),
      (900L, 99999L, 4.0f)).toDF("user", "item", "rating")
    val out = model.foldIn(newRatings, "user", "item", regParam = 0.05)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(out.keySet == Set(900L))
    val known = Seq(0L, 1L, 5L, 9L, 12L, 20L)
    val expected = ridgeSolve(
      known.map(itemF), Seq(2.5f, -1.0f, 3.0f, 0.5f, -2.0f, 1.5f),
      lambda = known.size * 0.05)
    out(900L).zip(expected).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-4, s"$got vs $want")
    }
  }

  test("foldIn holdout users predict their ratings well; NNLS arm is nonnegative") {
    // Fit on users 0..99 only; fold users 100..119 in afterwards.
    // 25 iterations: the 100-user subset converges slower than the full
    // fixture (train RMSE 0.63 at iter 10 → 0.006 at iter 25), and the
    // fold-in bound below is only meaningful against a converged model.
    val train = ratings.filter(col("user") < 100)
    val hold = ratings.filter(col("user") >= 100)
    val model = new CollectiveALS()
      .setRank(4).setMaxIter(25).setRegParam(0.001).setSeed(7L)
      .fit(train)
    val folded = model.foldIn(hold, "user", "item", regParam = 0.001)
    assert(folded.count() == 20)
    // Score the holdout ratings with the folded factors + frozen items.
    val scored = hold
      .join(folded.withColumnRenamed("id", "user").withColumnRenamed("features", "uf"), "user")
      .join(model.factorsFor("item").withColumnRenamed("id", "item")
        .withColumnRenamed("features", "if"), "item")
      .withColumn("prediction", graft.functions.array_dot(col("uf"), col("if")).cast("float"))
    val rmse = RegressionEvaluation.evaluate(scored, "rating", "prediction")
      .select("rmse").head.getDouble(0)
    assert(rmse < 0.05, s"fold-in rmse $rmse")

    val foldedNn = model.foldIn(hold, "user", "item",
      regParam = 0.001, nonnegative = true)
    val minCoef = foldedNn.select(min(expr("array_min(features)"))).head.getFloat(0)
    assert(minCoef >= 0.0f, s"NNLS fold-in produced negative $minCoef")
  }

  test("als_baseline certificate recovers the planted bias + interaction structure") {
    val out = graft.queries.CmfQueries.alsBaseline(spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_test") > 0)
    assert(out(0).getAs[Boolean]("bias_beats_mean"),
      "shrunken user/item biases must beat the global-mean predictor on holdout")
    assert(out(0).getAs[Boolean]("factors_no_worse"),
      "residual factorization must not degrade the baseline by more than 5%")
  }
}
