package graft.queries

import graft.Tables
import graft.cmf.{CollectiveALS, CollectiveALSModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver wiring for the CMF / recommendation pack (SURVEY §2 #8–13).
  *
  * Ratings derive from the TPC-H-ish testdata (SURVEY §4): the
  * customer→part relation is (o_custkey, l_partkey, Σ l_quantity) from
  * lineitem ⋈ orders; the part→supplier attribute relation is the
  * distinct (l_partkey, l_suppkey) pairs. ALS results are
  * seed-deterministic but float-accumulation-order-sensitive, so these
  * queries carry no SQL oracle (rows-only driver check) — the numeric
  * assertions live in the ScalaTest specs (RMSE bounds, ranking recall).
  */
object CmfQueries {

  private val ratingsCache = new Memo[DataFrame]
  private val modelCache = new Memo[CollectiveALSModel]

  /** Materialized once per (session, dir) (`Tables.checkpoint` + memo): the
    * same ratings feed every fit (which re-layouts them internally), every
    * predict join, and the driver's sink re-executions — a real pipeline
    * derives its interaction table once, not once per downstream consumer. */
  def custPartRatings(s: SparkSession, dir: String): DataFrame =
    ratingsCache(s, dir)(
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .agg(sum("l_quantity").cast("float").as("rating"))
        .transform(Tables.checkpoint))

  /** #13d deterministic negative sampling for implicit-feedback
    * training (the BPR/word2vec data-prep step): two pseudo-negatives
    * per observed (cust, part) pair, drawn from the dense part keyspace
    * by md5 arithmetic over (cust, part, draw index) — fully
    * reproducible across engines and runs, no RNG state to ship. A
    * draw colliding with its own positive (probability 1/|parts|) is
    * tolerated, as uniform samplers in practice do.
    *
    * Scale shape: one broadcast of the single-row keyspace bound and a
    * 2× explode of the ratings — partial-aggregation-free projection,
    * nothing keyed, nothing driver-side. */
  def trainNegatives(s: SparkSession, dir: String): DataFrame = {
    val bound = broadcast(Tables.part(s, dir).agg(max("p_partkey").as("np")))
    custPartRatings(s, dir)
      .select(col("cust"), col("part"))
      .crossJoin(bound)
      .select(col("cust"), col("part"), col("np"),
        explode(array(lit(1), lit(2))).as("neg_idx"))
      .withColumn("part_neg",
        pmod(conv(substring(md5(
            concat_ws(":", col("cust"), col("part"), col("neg_idx"))),
            1, 15), 16, 10).cast("long"), col("np")) + 1)
      .select("cust", "part", "neg_idx", "part_neg")
      .orderBy("cust", "part", "neg_idx")
  }

  /** Fit-once-serve-many: `als_explicit` (predict) and `recommend_topk`
    * (top-k serving) exercise different model operators over the same
    * fitted model, as a production pipeline would — the fit is shared,
    * seed-deterministic, and memoized per (session, dir). */
  def explicitModel(s: SparkSession, dir: String): CollectiveALSModel =
    modelCache(s, dir)(
      new CollectiveALS("cust", "part")
        .setRank(8).setMaxIter(3).setRegParam(0.1).setSeed(42L)
        .fit(custPartRatings(s, dir)))

  private val pairsCache = new Memo[DataFrame]

  def partSuppPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache(s, dir)(
      Tables.lineitem(s, dir)
        .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
        .distinct()
        .withColumn("rating", lit(1.0f))
        .transform(Tables.checkpoint))

  /** #8 + #12: explicit two-entity ALS fit + predict. (Rows-only driver
    * check — no global sort on the 600k-row output.) */
  def alsExplicit(s: SparkSession, dir: String): DataFrame =
    explicitModel(s, dir).predict(custPartRatings(s, dir))
      .select(col("cust"), col("part"), col("prediction"))

  private val implicitPredCache = new Memo[DataFrame]

  /** #9: implicit-prefs (Hu-Koren) ALS fit + predict; quantity is the
    * confidence signal. Materialized once per (session, dir): the
    * predict query and its #9b shape audit read one fit. */
  def alsImplicit(s: SparkSession, dir: String): DataFrame =
    implicitPredCache(s, dir)(fitPredict(s, dir, new CollectiveALS("cust", "part")
      .setRank(8).setMaxIter(3).setRegParam(0.1).setAlpha(1.0)
      .setImplicitPrefs(true).setSeed(42L)))

  /** `est` fitted on the cust→part ratings and scoring them: (cust, part,
    * prediction), checkpointed; the model is released. */
  private def fitPredict(s: SparkSession, dir: String, est: CollectiveALS): DataFrame = {
    val ratings = custPartRatings(s, dir)
    val model = est.fit(ratings)
    val out = model.predict(ratings)
      .select(col("cust"), col("part"), col("prediction"))
      .transform(Tables.checkpoint)
    model.release()
    out
  }

  /** Rows, NaN predictions, and distinct customers and parts of a
    * cust→part prediction. */
  private def coverage(p: DataFrame): DataFrame =
    p.agg(
      count(lit(1)).as("n_rows"),
      sum(when(isnan(col("prediction")), 1L).otherwise(0L)).as("n_nan"),
      count_distinct(col("cust")).as("n_custs"),
      count_distinct(col("part")).as("n_parts"))

  /** #9b implicit predict coverage shape — same invariants as
    * [[alsPredictShape]] (every training row scored once, zero NaN,
    * full id coverage), asserted on the Hu-Koren fit whose factor
    * values themselves are not SQL-reproducible. */
  def alsImplicitShape(s: SparkSession, dir: String): DataFrame =
    coverage(alsImplicit(s, dir))

  private val nonnegPredCache = new Memo[DataFrame]

  /** #11: nonnegative (NNLS-solved) explicit fit + predict — factors are
    * constrained to the first quadrant; the spec asserts nonnegativity
    * and fit quality, the driver checks rows. Materialized once per
    * (session, dir): the #11b shape audit reads the same fit. */
  def alsNonnegative(s: SparkSession, dir: String): DataFrame =
    nonnegPredCache(s, dir)(fitPredict(s, dir, new CollectiveALS("cust", "part")
      .setRank(8).setMaxIter(3).setRegParam(0.1).setNonnegative(true).setSeed(42L)))

  /** #11b nonnegative predict shape, sql-decidable without factor
    * values: every training row scores exactly once, no NaN (every id
    * was fit), and — the NNLS invariant — no negative prediction: a dot
    * product of first-quadrant factors cannot go below zero, float
    * rounding included (a sum of nonnegative products never rounds
    * negative). NaN guards itself: NaN < 0 is false under Spark's
    * NaN-is-largest ordering, so n_nan and n_neg stay independent. */
  def alsNonnegShape(s: SparkSession, dir: String): DataFrame =
    alsNonnegative(s, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when(isnan(col("prediction")), 1L).otherwise(0L)).as("n_nan"),
      sum(when(col("prediction") < 0, 1L).otherwise(0L)).as("n_neg"))

  private val cmfPredCache = new Memo[DataFrame]

  /** #10: three-entity collective fit — customer→part ratings share the
    * part factors with part→supplier attributes; predict on both
    * relations. Materialized once per (session, dir): the #10 predict
    * query and its #10c shape audit read one fit, not two. */
  def cmfFitPredict(s: SparkSession, dir: String): DataFrame =
    cmfPredCache(s, dir)(collectivePredict(s, dir, new CollectiveALS("cust", "part", "supp")
      .setRank(8).setMaxIter(3).setRegParam(0.1).setSeed(42L)))

  /** `est` fitted on cust→part ratings and part→supp pairs and scoring
    * both: (relation, left_id, right_id, prediction), checkpointed; the
    * model is released. */
  private def collectivePredict(s: SparkSession, dir: String, est: CollectiveALS): DataFrame = {
    val r1 = custPartRatings(s, dir)
    val r2 = partSuppPairs(s, dir)
    val model = est.fit(("cust", "part") -> r1, ("part", "supp") -> r2)
    val p1 = model.predict(r1, "cust", "part")
      .select(lit("cust_part").as("relation"),
        col("cust").as("left_id"), col("part").as("right_id"), col("prediction"))
    val p2 = model.predict(r2, "part", "supp")
      .select(lit("part_supp").as("relation"),
        col("part").as("left_id"), col("supp").as("right_id"), col("prediction"))
    val out = p1.unionAll(p2).transform(Tables.checkpoint)
    model.release()
    out
  }

  /** Per relation of a [[collectivePredict]] output: rows, NaN
    * predictions, and distinct left and right ids. */
  private def relationCoverage(p: DataFrame): DataFrame =
    p.groupBy("relation")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(isnan(col("prediction")), 1L).otherwise(0L)).as("n_nan"),
        count_distinct(col("left_id")).as("n_left"),
        count_distinct(col("right_id")).as("n_right"))
      .orderBy("relation")

  /** #10c collective predict coverage shape, sql-decidable: per
    * relation, every training pair scores exactly once with zero NaN
    * (both relations' ids are all incident to the fit), and the
    * distinct left/right id counts match the training relation's —
    * catches a predict join that drops, duplicates, or cold-starts ids
    * on either relation of the multi-entity model. */
  def cmfPredictShape(s: SparkSession, dir: String): DataFrame =
    relationCoverage(cmfFitPredict(s, dir))

  /** #10c' same coverage invariants on the IMPLICIT collective fit —
    * the Gram-mask-merge path gets its own SQL-decidable shape row. */
  def cmfImplicitShape(s: SparkSession, dir: String): DataFrame =
    relationCoverage(cmfImplicit(s, dir))

  /** #9+#10: three-entity *implicit* (Hu-Koren) collective fit — the
    * driver-side exercise of the per-relation YtY mask merge: the shared
    * part entity is incident to both relations, so each part id's solve
    * adds only the Gram matrices of relations that actually observe it
    * (with a single relation that mask branch is trivial). Quantity is
    * the cust→part confidence signal; part→supp attributes are binary. */
  private val cmfImplCache = new Memo[DataFrame]

  def cmfImplicit(s: SparkSession, dir: String): DataFrame =
    // Materialized once per (session, dir): the #10b predict query and
    // its #10c' shape audit read one implicit fit, not two.
    cmfImplCache(s, dir)(collectivePredict(s, dir, new CollectiveALS("cust", "part", "supp")
      .setRank(8).setMaxIter(3).setRegParam(0.1).setAlpha(2.0)
      .setImplicitPrefs(true).setSeed(42L)))

  /** #13: blocked top-k recommendation for a deterministic 1-in-20 user
    * sample (sampling at the factor-table boundary keeps the query cheap
    * at bench scale while exercising the full blocked path). */
  def recommendTopK(s: SparkSession, dir: String): DataFrame = {
    val model = explicitModel(s, dir)
    val sampled = new CollectiveALSModel(
      model.rank,
      Seq(model.factorsFor("cust").filter(pmod(col("id"), lit(20)) === 0),
        model.factorsFor("part")),
      Seq("cust", "part"))
    sampled.recommendTopK(5, "cust", "part")
      .orderBy("cust", "rank")
  }

  /** #13b recommendation shape, sql-decidable without factor values:
    * every sampled customer must get exactly k=5 recommendations with
    * contiguous ranks 1..5 (the part side always has ≥ 5 candidates).
    * Hash-green iff the blocked top-k never drops, duplicates, or
    * mis-ranks a user's list. */
  def recommendTopKShape(s: SparkSession, dir: String): DataFrame =
    recommendTopK(s, dir)
      .groupBy("cust")
      .agg(count(lit(1)).as("n_recs"), min("rank").as("min_rank"),
        max("rank").as("max_rank"), count_distinct(col("rank")).as("n_ranks"))
      .orderBy("cust")

  /** #13c model persistence round-trip, driver-hash-checked: save the
    * shared explicit model, load it back, and score the training
    * relation with BOTH models — every pair must predict identically
    * (same factors through the same fused dot ⇒ bitwise-equal floats;
    * Spark's EqualTo treats NaN = NaN as true, and n_nan pins zero NaN
    * anyway), with full row coverage. */
  private val roundtripCache = new Memo[DataFrame]

  def modelRoundtripShape(s: SparkSession, dir: String): DataFrame =
    // Memoized + scratch-cleaned (one save/load per (session, dir), no
    // leaked model dirs across bench/validate re-runs).
    roundtripCache(s, dir)(Scratch.cleaned("graft_model") { path =>
      val m = explicitModel(s, dir)
      m.save(path.toString)
      val loaded = graft.cmf.CollectiveALSModel.load(s, path.toString)
      val a = m.predict(custPartRatings(s, dir))
        .select(col("cust"), col("part"), col("prediction").as("p0"))
      val b = loaded.predict(custPartRatings(s, dir))
        .select(col("cust"), col("part"), col("prediction").as("p1"))
      a.join(b, Seq("cust", "part"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("p0") === col("p1"), 0L).otherwise(1L)).as("n_diff"),
          sum(when(isnan(col("p1")), 1L).otherwise(0L)).as("n_nan"))
    })

  /** #12b predict coverage shape: predicting the training relation from
    * the fitted model must score every rating row (no NaN — every id was
    * seen in the fit) exactly once. */
  def alsPredictShape(s: SparkSession, dir: String): DataFrame =
    coverage(explicitModel(s, dir).predict(custPartRatings(s, dir)))

  /** Genuinely unseen customers: every seventh training customer re-keyed
    * by +1,000,000, keeping their real part ratings. */
  private def unseenCustomers(s: SparkSession, dir: String): DataFrame =
    custPartRatings(s, dir)
      .filter(col("cust") % 7 === 0)
      .withColumn("cust", col("cust") + 1000000L)

  /** #12c fold-in coverage shape: a batch of genuinely-unseen customers
    * (training custs re-keyed by +1,000,000, keeping their real part
    * ratings) folded against the frozen explicit model. SQL-decidable
    * invariants: exactly one factor row per new customer (every part in
    * the batch is known to the model, so nobody drops out), ids unique,
    * every factor exactly rank-long with no NaN coefficient. */
  def alsFoldinShape(s: SparkSession, dir: String): DataFrame =
    explicitModel(s, dir).foldIn(unseenCustomers(s, dir), "cust", "part", regParam = 0.1)
      .agg(
        count(lit(1)).as("n_users"),
        count_distinct(col("id")).as("n_ids"),
        sum(when(size(col("features")) =!= 8, 1L).otherwise(0L)).as("n_badrank"),
        sum(when(exists(col("features"), f => isnan(f)), 1L).otherwise(0L)).as("n_nan"))

  /** #12c' fold-in mode coverage: the same unseen-customer batch folded
    * under implicit (Hu-Koren Gram) and NNLS modes — per mode, full
    * coverage, rank-8 factors, no NaN, and (NNLS only) zero negative
    * coefficients, all SQL-decidable. */
  def foldinModesShape(s: SparkSession, dir: String): DataFrame = {
    val batch = unseenCustomers(s, dir)
    val m = explicitModel(s, dir)
    def shape(mode: String, f: DataFrame, checkNonneg: Boolean) =
      f.agg(
        lit(mode).as("mode"),
        count(lit(1)).as("n_users"),
        sum(when(size(col("features")) =!= 8, 1L).otherwise(0L)).as("n_badrank"),
        sum(when(exists(col("features"), x => isnan(x)), 1L).otherwise(0L)).as("n_nan"),
        (if (checkNonneg)
           sum(when(exists(col("features"), x => x < 0f), 1L).otherwise(0L))
         else lit(0L)).as("n_neg"))
    shape("implicit",
        m.foldIn(batch, "cust", "part", regParam = 0.1,
          implicitPrefs = true, alpha = 40.0), checkNonneg = false)
      .unionAll(shape("nnls",
        m.foldIn(batch, "cust", "part", regParam = 0.1,
          nonnegative = true), checkNonneg = true))
      .orderBy("mode")
  }

  private val fitQualityCache = new Memo[DataFrame]

  /** #8c driver-visible fit QUALITY (not just coverage shape): a
    * chronological 80/20 holdout over the time-stamped ratings (last
    * order date per (cust, part)), a fresh explicit fit on the train
    * slice, and convergence certificates rounded into SQL-decidable
    * fields — the driver-facing counterpart of the reference's
    * MovieLens RMSE/NDCG tests:
    *
    *  - n_test / n_eval: holdout size and its model-covered subset
    *    (both ids seen in train) — NON-constant oracle arithmetic, so
    *    the split boundary and predict coverage are exact-checked;
    *  - train_rmse_ok: train RMSE under 0.8 × the rating stddev
    *    (measured 0.47–0.54×) — the fit captured the train structure;
    *  - ndcg_ok: train NDCG@10 ≥ 0.85 (measured ≈ 0.959; relevant =
    *    rating ≥ train mean) — the factors RANK what they fit;
    *  - holdout_bounded: covered-holdout RMSE ≤ 2.5 × the train-mean
    *    baseline's (measured 1.62–1.65×) — regularization keeps
    *    never-co-observed pairs in a sane range. A beats-the-baseline
    *    holdout check (the MovieLens result) is unattainable on THIS
    *    data by construction: the synthetic quantities are independent
    *    draws with no cross-pair signal to generalize, so the honest
    *    holdout certificate is boundedness, not lift.
    *
    * Thresholds carry ≥30% empirical margin at sf0.001/0.01/0.1, and
    * the pipeline is seed-deterministic, so green is stable. */
  def fitQuality(s: SparkSession, dir: String): DataFrame =
    fitQualityCache(s, dir) {
      import graft.eval.{RankingEvaluation, RegressionEvaluation}
      val rated = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .agg(sum("l_quantity").cast("float").as("rating"),
          // NTZ → epoch µs: ChronoSplit needs a numeric-castable time,
          // and the oracle mirrors with epoch_us (same total order).
          max(unix_micros(col("o_orderdate").cast("timestamp"))).as("t"))
        .withColumn("tie", col("cust") * lit(10000000L) + col("part"))
        // split() makes four passes over its input (count, quantile
        // probe, bucket aggregate, rank checkpoint) — materialize the
        // join+agg lineage once instead of re-executing it per pass.
        .transform(Tables.checkpoint)
      val Seq(train, test) =
        graft.ops.ChronoSplit.split(rated, Seq(0.8, 0.2), "t", "tie")
      val model = new CollectiveALS("cust", "part")
        .setRank(8).setMaxIter(5).setRegParam(0.1).setSeed(42L)
        .fit(train.select("cust", "part", "rating"))

      // One pass for both train-side moments (was two separate jobs).
      val tstats = train.agg(avg("rating"), stddev_pop("rating")).head()
      val trainMean = tstats.getDouble(0)
      val pred = model.predict(test.select("cust", "part", "rating"))
        .transform(Tables.checkpoint)
      val hold = pred.filter(!isnan(col("prediction")))
        .agg(count(lit(1)).as("n_eval"),
          sqrt(avg(pow(col("prediction") - col("rating"), 2))).as("rmse"),
          sqrt(avg(pow(lit(trainMean) - col("rating"), 2))).as("rmse_base"))
        .head()
      val nTest = test.count()

      val predTrain = model.predict(train.select("cust", "part", "rating"))
        .transform(Tables.checkpoint)
      model.release()
      val evTrain = RegressionEvaluation
        .evaluate(predTrain, "rating", "prediction").head()
      val sdTrain = tstats.getDouble(1)
      val ndcg = RankingEvaluation.evaluate(
          predTrain, predTrain.filter(col("rating") >= lit(trainMean)),
          "cust", "part", "prediction", Seq(10))
        .head().getDouble(4)

      import s.implicits._
      // Null-safe reads: a degenerate corpus can leave the evaluation
      // aggregates null (no finite predictions) — report false, never
      // crash on Row.getDouble(null).
      def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      // The result is computed: nothing reads the checkpoints again.
      Seq(rated, train, pred, predTrain).foreach(Tables.release)
      Seq((nTest, hold.getLong(0),
          opt(evTrain, 2).exists(_ < 0.8 * sdTrain),
          ndcg >= 0.85,
          (for { h1 <- opt(hold, 1); h2 <- opt(hold, 2) }
            yield h1 <= 2.5 * h2).getOrElse(false)))
        .toDF("n_test", "n_eval", "train_rmse_ok", "ndcg_ok", "holdout_bounded")
    }

  /** #8d baseline-corrected factorization — the classic "biases first"
    * decomposition (Koren 2009, Netflix-era): prediction =
    * μ + b_user + b_item + qᵀp, with the shrunken biases
    * (Σresid / (n + λ_b), λ_b = 10) absorbing who-rates-high /
    * what-rates-high before the rank-8 ALS factorizes only the
    * RESIDUAL interaction. Cold-start test pairs degrade gracefully to
    * the baseline (NaN factor dot → 0 contribution) instead of NaN.
    *
    * The rating carries PLANTED structure — additive user and item
    * effects plus a rank-1 interaction, with the (noise-like) TPC-H
    * quantity as perturbation — so this is a signal-recovery test:
    * raw quantities have no user/item effect for biases to find, and
    * a certificate on them would only measure overfitting. The
    * variance-robust booleans on the chrono holdout: biases must beat
    * the global-mean predictor, and the factor term must not degrade
    * the baseline by more than 5%. */
  def alsBaseline(s: SparkSession, dir: String): DataFrame = {
    val rated = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .agg(sum("l_quantity").as("qty"),
        max(unix_micros(col("o_orderdate").cast("timestamp"))).as("t"))
      .withColumn("rating", expr(
        "cast((cust % 7) - 3 + (part % 5) - 2 + " +
          "((cust % 3) - 1) * ((part % 3) - 1) + qty / 25.0 as float)"))
      .withColumn("tie", col("cust") * lit(10000000L) + col("part"))
      // Same discipline as fitQuality: split() re-reads its input four
      // times — materialize the planted-rating lineage once.
      .transform(Tables.checkpoint)
    val Seq(train, test) =
      graft.ops.ChronoSplit.split(rated, Seq(0.8, 0.2), "t", "tie")
    val mu = train.agg(avg("rating")).head().getDouble(0)
    // The bias tables are consumed twice each (residual build + holdout
    // scoring) and are |custs| / |parts|-sized — checkpoint so the
    // train-wide aggregations behind them run once, and the scoring join
    // reads the same bias values the residuals were built from.
    val bu = train.groupBy("cust")
      .agg((sum(col("rating") - mu) / (count(lit(1)) + lit(10.0))).as("b_u"))
      .transform(Tables.checkpoint)
    val bi = train.join(bu, "cust").groupBy("part")
      .agg((sum(col("rating") - mu - col("b_u")) / (count(lit(1)) + lit(10.0)))
        .as("b_i"))
      .transform(Tables.checkpoint)
    // fit() itself counts its input before laying it out — hand it a
    // materialized residual table, not the three-way join pipeline.
    val resid = train.join(bu, "cust").join(bi, "part")
      .select(col("cust"), col("part"),
        (col("rating") - mu - col("b_u") - col("b_i"))
          .cast("float").as("rating"))
      .transform(Tables.checkpoint)
    val model = new CollectiveALS("cust", "part")
      .setRank(8).setMaxIter(5).setRegParam(0.1).setSeed(42L)
      .fit(resid)
    val scored = model.predict(test.select("cust", "part", "rating"))
      .join(bu, Seq("cust"), "left")
      .join(bi, Seq("part"), "left")
      .withColumn("base",
        lit(mu) + coalesce(col("b_u"), lit(0.0)) + coalesce(col("b_i"), lit(0.0)))
      .withColumn("full",
        col("base") + when(isnan(col("prediction")), 0.0).otherwise(col("prediction")))
    val m = scored.agg(
      count(lit(1)).as("n_test"),
      sqrt(avg(pow(col("full") - col("rating"), 2))).as("rmse_full"),
      sqrt(avg(pow(col("base") - col("rating"), 2))).as("rmse_base"),
      sqrt(avg(pow(lit(mu) - col("rating"), 2))).as("rmse_mean")).head()
    // The result is computed: nothing reads the checkpoints again.
    model.release()
    Seq(rated, train, bu, bi, resid).foreach(Tables.release)
    import s.implicits._
    Seq((m.getLong(0),
        m.getDouble(2) <= m.getDouble(3),
        m.getDouble(1) <= 1.05 * m.getDouble(2)))
      .toDF("n_test", "bias_beats_mean", "factors_no_worse")
  }

  /** #13i memory-based item-item collaborative filtering — the
    * neighborhood recommender family (Sarwar et al. 2001) next to the
    * factor models, with a FULL hash oracle (unlike ALS, nothing here
    * is float-accumulation-order-sensitive): item-item cosine over the
    * integer rating vectors rounds to integer micro-units (so the
    * top-10 neighbor election is pure integer rank), predictions are
    * Σ simᵤ·r / Σ simᵤ with an exact integer numerator and denominator,
    * and the in-sample RMSE/MAE accumulate per-pair micro-rounded
    * errors (round-then-sum). Scale: co-rated pair generation is
    * user-blocked with a 100-item hot-user cap (the user_overlap
    * discipline); the neighbor election is a per-item partitioned
    * window. */
  // The two neighborhood recommenders (item-item CF, Slope One) score the
  // same (customer, part, Σquantity) ratings under the same ≤100-ratings
  // hot-user cap — one derivation + materialization serves both (timed as
  // `_mat_corated` in the bench so neither consumer's entry absorbs it).
  private val coratedCache = new Memo[DataFrame]

  private[graft] def coratedCapped(s: SparkSession, dir: String): DataFrame =
    coratedCache(s, dir) {
      val r = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
        .agg(sum("l_quantity").cast("long").as("q"))
      val deg = r.groupBy("u").agg(count(lit(1)).as("c"))
      r.join(deg, "u").filter(col("c") <= 100).drop("c")
        // Pin a cluster-wide user-hash layout BEFORE materializing: the
        // table is tiny in bytes, so AQE would coalesce it to ~1
        // partition — and both consumers' u-keyed self-joins (the
        // ~|rc|·c̄-row pair enumerations, the CPU-heavy stage of either
        // query) would then run as ONE task. The checkpointed
        // hashpartitioning(u) is reused by the joins exchange-free.
        .repartition(s.sparkContext.defaultParallelism, col("u"))
        .transform(Tables.checkpoint)
    }

  /** [[cfItemPredict]]'s item-item cosine over the capped co-rating
    * table `rc` (u, i, q): ordered (i, j, sim_u) rows, i ≠ j, sim_u the
    * cosine in integer micro-units, sim_u > 0. */
  private[graft] def itemSims(s: SparkSession, rc: DataFrame): DataFrame = {
    val n2 = rc.groupBy("i").agg(sum(col("q") * col("q")).as("s2"))
    // Explicit u-hash repartitions on BOTH self-join inputs: the rating
    // table is tiny in bytes, so AQE coalesces an ENSURE_REQUIREMENTS
    // exchange to ~1 partition — and the pair-enumeration join PLUS its
    // fused partial aggregation (the CPU-heavy stage: ~|rc|·c̄ rows
    // through a multi-million-key hash map) would run as one task. AQE
    // never coalesces a user repartition with an explicit count, and the
    // join consumes the layout exchange-free, so the stage runs
    // cluster-wide. Bytes-blind coalescing cannot see the 40× row
    // explosion above this exchange.
    val width = s.sparkContext.defaultParallelism
    val a = rc.select(col("u"), col("i"), col("q"))
      .repartition(width, col("u"))
    val b = rc.select(col("u"), col("i").as("j"), col("q").as("qj"))
      .repartition(width, col("u"))
    // The similarity is symmetric in (i, j): dot(i,j) = dot(j,i) by
    // integer-product commutativity, and sim_u(j,i) evaluates the exact
    // same IEEE expression (multiplication commutes) — so enumerate each
    // unordered pair ONCE (i < j) and mirror the aggregated half-sims:
    // the per-user pair explosion, the enumeration exchange bytes and
    // the aggregation hash map all HALVE vs the old i ≠ j enumeration
    // (§2.3 shuffle fewer bytes; set-equality of the mirrored table vs
    // the old construction verified row-for-row at sf0.1, 25 406 930
    // rows, zero asymmetry; CfMirrorSpec keeps that check at sf0.001).
    // No checkpoint here: the two union branches
    // read the SAME enumeration exchange (Spark reuses identical
    // exchanges within one execution), so only the cheap final-agg/
    // join/filter segment runs per branch — a checkpoint of the ~13M-row
    // half table cost more in write+GC than it saved (measured).
    // n2 is |items|-scale but sits above a post-aggregate whose size
    // estimate blocks auto-broadcast — without hints both joins plan as
    // sort-merge and SORT the multi-million-row dot table twice. The
    // hint is row-count-gated (broadcastIfSmall): at a web-scale item
    // universe the joins degrade to the old sort-merge instead of
    // OOMing the driver; the checkpoint makes the gating count cheap.
    val n2c = Tables.checkpoint(n2)
    val simsHalf = a.join(b, Seq("u")).filter(col("i") < col("j"))
      .groupBy("i", "j").agg(sum(col("q") * col("qj")).as("dot"))
      .join(Tables.broadcastIfSmall(
        n2c.select(col("i"), col("s2").as("s2i"))), "i")
      .join(Tables.broadcastIfSmall(
        n2c.select(col("i").as("j"), col("s2").as("s2j"))), "j")
      .withColumn("sim_u",
        round(col("dot") / (sqrt(col("s2i")) * sqrt(col("s2j"))) * 1000000, 0)
          .cast("long"))
      .filter(col("sim_u") > 0)
      .select("i", "j", "sim_u")
    simsHalf.unionByName(
      simsHalf.select(col("j").as("i"), col("i").as("j"), col("sim_u")))
  }

  def cfItemPredict(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rc = coratedCapped(s, dir)
    val sims = itemSims(s, rc)
    val top = sims
      .withColumn("rn", row_number().over(
        Window.partitionBy("i").orderBy(col("sim_u").desc, col("j"))))
      .filter(col("rn") <= 10)
      .select("i", "j", "sim_u")
      .transform(Tables.checkpoint)
    // top is ≤ 10·|items| rows (dim-scale) — broadcast it (same row-count
    // gate) so the rating table is not shuffled by i just to pick up its
    // neighbor list. The (u, j) join keeps the shuffle: its right side is
    // ratings-scale and may not be broadcast at corpus scale.
    val pred = rc.join(Tables.broadcastIfSmall(top), "i")
      .join(rc.select(col("u"), col("i").as("j"), col("q").as("qn")),
        Seq("u", "j"))
      .groupBy("u", "i", "q")
      .agg(sum(col("sim_u") * col("qn")).as("num"), sum("sim_u").as("den"))
      .withColumn("e", col("num") / col("den") - col("q"))
    val nTot = rc.agg(count(lit(1)).as("n_ratings"))
    pred.agg(count(lit(1)).as("n_scored"),
        sum(round(col("e") * col("e") * 1000000.0, 0).cast("long")).as("se"),
        sum(round(abs(col("e")) * 1000000.0, 0).cast("long")).as("ae"))
      .crossJoin(broadcast(nTot))
      .select(col("n_scored"), col("n_ratings"),
        round(sqrt(col("se") / 1000000.0 / col("n_scored")), 6).as("rmse"),
        round(col("ae") / 1000000.0 / col("n_scored"), 6).as("mae"))
  }

  /** #13i weighted Slope One predictor (Lemire & Maclachlan 2005) over
    * the same (customer, part, Σquantity) implicit ratings as
    * [[cfItemPredict]] — the deviation-based CF baseline that needs no
    * similarity model: dev(i,j) = Σ_u (r_ui − r_uj)/c_ij over co-rating
    * users, predict r̂_ui = Σ_j (dev_ij + r_uj)·c_ij / Σ_j c_ij. The
    * algebra stays EXACT integers end-to-end: (dev_ij + r_uj)·c_ij =
    * dnum_ij + r_uj·c_ij (both integer aggregates), so each
    * prediction is one integer/integer division and the RMSE/MAE
    * readout rides micro-unit round-then-sum like the CF predictor.
    * Pair space is bounded by the same ≤100-ratings user cap; the
    * deviation table is |items|² at most, item-pair-keyed partial
    * aggregation throughout. */
  def slopeOne(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rc = coratedCapped(s, dir)
    // The (u, i, j) co-rating pair stream is consumed EXACTLY ONCE: the
    // per-(i, j) deviation aggregates (dnum, cij) attach as window
    // aggregates over the item-pair partition instead of a separate
    // groupBy + re-join, so the ~|rc|·c̄ pair space crosses the wire once
    // (one (i, j) exchange) rather than three times (agg exchange + join
    // exchange + a 2× checkpoint write/read). Integer sums/counts are
    // order-independent, so the attached values are bit-identical to the
    // aggregated-then-joined form the oracle mirrors.
    // Same explicit-width self-join discipline as cfItemPredict: without
    // it the pair enumeration runs on the ~1 partition AQE coalesces the
    // tiny rating table to.
    val width = s.sparkContext.defaultParallelism
    val pairs = rc.select(col("u"), col("i"), col("q"))
      .repartition(width, col("u"))
      .join(rc.select(col("u"), col("i").as("j"), col("q").as("quj"))
        .repartition(width, col("u")), Seq("u"))
      .filter(col("i") =!= col("j"))
    val wij = Window.partitionBy("i", "j")
    // Per-user co-rated (i, j) pairs carry their deviation stats directly
    // (≤ cap² pairs per user) — never the recommend-all item grid.
    val pred = pairs
      .withColumn("dnum", sum(col("q") - col("quj")).over(wij))
      .withColumn("cij", count(lit(1)).over(wij))
      .groupBy("u", "i", "q")
      .agg(sum(col("dnum") + col("quj") * col("cij")).as("num"),
        sum("cij").as("den"))
      .withColumn("e", col("num").cast("double") / col("den") - col("q"))
    val nTot = rc.agg(count(lit(1)).as("n_ratings"))
    pred.agg(count(lit(1)).as("n_scored"),
        sum(round(col("e") * col("e") * 1000000.0, 0).cast("long")).as("se"),
        sum(round(abs(col("e")) * 1000000.0, 0).cast("long")).as("ae"))
      .crossJoin(broadcast(nTot))
      .select(col("n_scored"), col("n_ratings"),
        round(sqrt(col("se") / 1000000.0 / col("n_scored")), 6).as("rmse"),
        round(col("ae") / 1000000.0 / col("n_scored"), 6).as("mae"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "slope_one" -> (slopeOne _),
    "cf_item_predict" -> (cfItemPredict _),
    "als_baseline" -> (alsBaseline _),
    "fit_quality" -> (fitQuality _),
    "train_negatives" -> (trainNegatives _),
    "foldin_modes_shape" -> (foldinModesShape _),
    "als_foldin_shape" -> (alsFoldinShape _),
    "recommend_topk_shape" -> (recommendTopKShape _),
    "als_predict_shape" -> (alsPredictShape _),
    "model_roundtrip_shape" -> (modelRoundtripShape _),
    "als_nonnegative_shape" -> (alsNonnegShape _),
    "als_implicit_shape" -> (alsImplicitShape _),
    "cmf_predict_shape" -> (cmfPredictShape _),
    "cmf_implicit_shape" -> (cmfImplicitShape _),
    "als_explicit"    -> (alsExplicit _),
    "als_implicit"    -> (alsImplicit _),
    "als_nonnegative" -> (alsNonnegative _),
    "cmf_fit_predict" -> (cmfFitPredict _),
    "cmf_implicit"    -> (cmfImplicit _),
    "recommend_topk"  -> (recommendTopK _),
  )

  /** ALS factor *values* are not SQL-reproducible (float-accumulation-
    * order-sensitive), so the fit/predict queries are rows-checked with
    * numeric bounds in specs — but the *shapes* are SQL-decidable and
    * oracled here: which ids get scored, how many recommendations each
    * user receives, and that ranks are contiguous. */
  /** [[coverage]] of a prediction of every training (cust, part) pair. */
  private val coverageOracle =
    """SELECT count(*) AS n_rows, 0::BIGINT AS n_nan,
      |  count(DISTINCT cust) AS n_custs, count(DISTINCT part) AS n_parts
      |FROM (
      |  SELECT o_custkey AS cust, l_partkey AS part
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2)""".stripMargin

  /** [[relationCoverage]] of a prediction of both training relations. */
  private val relationCoverageOracle =
    """SELECT * FROM (
      |  SELECT 'cust_part' AS relation, count(*) AS n_rows,
      |    0::BIGINT AS n_nan,
      |    count(DISTINCT o_custkey) AS n_left,
      |    count(DISTINCT l_partkey) AS n_right
      |  FROM (
      |    SELECT o_custkey, l_partkey
      |    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |    GROUP BY 1, 2)
      |  UNION ALL
      |  SELECT 'part_supp', count(*), 0::BIGINT,
      |    count(DISTINCT l_partkey), count(DISTINCT l_suppkey)
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |) ORDER BY relation""".stripMargin

  val oracles: Map[String, String] = Map(
    // Micro-rounded cosines make the neighbor election integer-exact;
    // predictions and errors are integer arithmetic until display.
    // Integer deviation algebra: (dev + r_uj)·c = dnum + r_uj·c, so
    // num/den is the only division; error terms ride micro-units.
    "slope_one" ->
      """WITH r AS (
        |  SELECT o_custkey AS u, l_partkey AS i,
        |    CAST(sum(l_quantity) AS BIGINT) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |), deg AS (SELECT u, count(*) AS c FROM r GROUP BY u),
        |rc AS (SELECT r.* FROM r JOIN deg USING (u) WHERE c <= 100),
        |devs AS (
        |  SELECT a.i AS i, b.i AS j,
        |    sum(a.q - b.q)::BIGINT AS dnum, count(*)::BIGINT AS cij
        |  FROM rc a JOIN rc b ON a.u = b.u AND a.i <> b.i
        |  GROUP BY 1, 2
        |), pred AS (
        |  SELECT x.u, x.i, x.q,
        |    sum(d.dnum + y.q * d.cij)::BIGINT AS num, sum(d.cij)::BIGINT AS den
        |  FROM rc x JOIN rc y ON y.u = x.u AND y.i <> x.i
        |  JOIN devs d ON d.i = x.i AND d.j = y.i
        |  GROUP BY 1, 2, 3
        |), nt AS (SELECT count(*)::BIGINT AS n_ratings FROM rc)
        |SELECT count(*)::BIGINT AS n_scored, n_ratings,
        |  round(sqrt(sum(CAST(round((num / den - q) * (num / den - q)
        |      * 1000000.0, 0) AS BIGINT)) / 1000000.0 / count(*)), 6) AS rmse,
        |  round(sum(CAST(round(abs(num / den - q) * 1000000.0, 0) AS BIGINT))
        |    / 1000000.0 / count(*), 6) AS mae
        |FROM pred CROSS JOIN nt GROUP BY n_ratings""".stripMargin,
    "cf_item_predict" ->
      """WITH r AS (
        |  SELECT o_custkey AS u, l_partkey AS i,
        |    CAST(sum(l_quantity) AS BIGINT) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |), deg AS (SELECT u, count(*) AS c FROM r GROUP BY u),
        |rc AS (SELECT r.* FROM r JOIN deg USING (u) WHERE c <= 100),
        |n2 AS (SELECT i, sum(q * q)::BIGINT AS s2 FROM rc GROUP BY i),
        |dots AS (
        |  SELECT a.i AS i, b.i AS j, sum(a.q * b.q)::BIGINT AS dot
        |  FROM rc a JOIN rc b ON a.u = b.u AND a.i <> b.i
        |  GROUP BY 1, 2
        |), sims AS (
        |  SELECT dots.i, dots.j,
        |    CAST(round(dot / (sqrt(x.s2) * sqrt(y.s2)) * 1000000, 0) AS BIGINT)
        |      AS sim_u
        |  FROM dots JOIN n2 x ON x.i = dots.i JOIN n2 y ON y.i = dots.j
        |), top AS (
        |  SELECT i, j, sim_u FROM (
        |    SELECT *, row_number() OVER (PARTITION BY i
        |      ORDER BY sim_u DESC, j) AS rn
        |    FROM sims WHERE sim_u > 0)
        |  WHERE rn <= 10
        |), pred AS (
        |  SELECT r.u, r.i, r.q,
        |    sum(t.sim_u * ru.q)::BIGINT AS num, sum(t.sim_u)::BIGINT AS den
        |  FROM rc r JOIN top t ON t.i = r.i
        |  JOIN rc ru ON ru.u = r.u AND ru.i = t.j
        |  GROUP BY r.u, r.i, r.q
        |), nt AS (SELECT count(*)::BIGINT AS n_ratings FROM rc)
        |SELECT count(*)::BIGINT AS n_scored, n_ratings,
        |  round(sqrt(sum(CAST(round((num / den - q) * (num / den - q)
        |      * 1000000.0, 0) AS BIGINT)) / 1000000.0 / count(*)), 6) AS rmse,
        |  round(sum(CAST(round(abs(num / den - q) * 1000000.0, 0) AS BIGINT))
        |    / 1000000.0 / count(*), 6) AS mae
        |FROM pred CROSS JOIN nt GROUP BY n_ratings""".stripMargin,
    "train_negatives" ->
      """WITH r AS (
        |  SELECT o_custkey AS cust, l_partkey AS part
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |), np AS (SELECT max(p_partkey) AS np FROM part),
        |x AS (SELECT cust, part, unnest([1, 2]) AS neg_idx FROM r)
        |SELECT cust, part, neg_idx,
        |  (('0x' || substr(md5(concat_ws(':', cust, part, neg_idx)), 1, 15))::BIGINT
        |    % np) + 1 AS part_neg
        |FROM x, np
        |ORDER BY cust, part, neg_idx""".stripMargin,
    // n_test / n_eval are genuine oracle arithmetic (chrono boundary +
    // train-coverage EXISTS); the three certificates are booleans whose
    // thresholds hold with ≥30% margin (see fitQuality scaladoc).
    "fit_quality" ->
      """WITH rated AS (
        |  SELECT o_custkey AS cust, l_partkey AS part,
        |    max(epoch_us(o_orderdate)) AS t
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY t, cust * 10000000 + part) AS rk,
        |    count(*) OVER () AS n
        |  FROM rated
        |), train AS (SELECT * FROM ranked WHERE rk <= floor(0.8 * n)),
        |   test  AS (SELECT * FROM ranked WHERE rk >  floor(0.8 * n))
        |SELECT (SELECT count(*) FROM test)::BIGINT AS n_test,
        |  (SELECT count(*) FROM test t2
        |     WHERE EXISTS (SELECT 1 FROM train tr WHERE tr.cust = t2.cust)
        |       AND EXISTS (SELECT 1 FROM train tr WHERE tr.part = t2.part)
        |  )::BIGINT AS n_eval,
        |  true AS train_rmse_ok, true AS ndcg_ok, true AS holdout_bounded""".stripMargin,
    // One folded factor per re-keyed customer: the batch keeps real part
    // ids, so the inner join against the frozen part factors loses nobody.
    "foldin_modes_shape" ->
      """SELECT mode, count(DISTINCT o_custkey) AS n_users,
        |  0::BIGINT AS n_badrank, 0::BIGINT AS n_nan, 0::BIGINT AS n_neg
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |CROSS JOIN (SELECT unnest(['implicit', 'nnls']) AS mode)
        |WHERE o_custkey % 7 = 0
        |GROUP BY mode ORDER BY mode""".stripMargin,
    "als_foldin_shape" ->
      """SELECT count(DISTINCT o_custkey) AS n_users,
        |  count(DISTINCT o_custkey) AS n_ids,
        |  0::BIGINT AS n_badrank, 0::BIGINT AS n_nan
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_custkey % 7 = 0""".stripMargin,
    "recommend_topk_shape" ->
      """SELECT cust, 5::BIGINT AS n_recs, 1 AS min_rank, 5 AS max_rank,
        |  5::BIGINT AS n_ranks
        |FROM (
        |  SELECT DISTINCT o_custkey AS cust
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_custkey % 20 = 0)
        |ORDER BY cust""".stripMargin,
    // Round-trip: full coverage, zero prediction drift, zero NaN.
    "model_roundtrip_shape" ->
      """SELECT count(*) AS n_rows, 0::BIGINT AS n_diff, 0::BIGINT AS n_nan
        |FROM (
        |  SELECT o_custkey, l_partkey
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)""".stripMargin,
    "als_predict_shape" -> coverageOracle,
    // Same coverage invariants as als_predict_shape, on the implicit fit.
    "als_implicit_shape" -> coverageOracle,
    "als_nonnegative_shape" ->
      """SELECT count(*) AS n_rows, 0::BIGINT AS n_nan, 0::BIGINT AS n_neg
        |FROM (
        |  SELECT o_custkey AS cust, l_partkey AS part
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)""".stripMargin,
    "cmf_predict_shape" -> relationCoverageOracle,
    // Identical coverage truth — the implicit fit scores the same
    // relations over the same id space.
    "cmf_implicit_shape" -> relationCoverageOracle,
  )
}
