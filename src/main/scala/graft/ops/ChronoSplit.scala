package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Chronological (rank-range) dataset splitting.
  *
  * Same semantics as the reference's `splitChronologically`
  * (`/root/reference/src/main/scala/com/github/jongwook/cmf/Utils.scala:11`):
  * rows are totally ordered by a time column and partitioned into contiguous
  * rank ranges proportional to the given weights, preserving the schema.
  *
  * Spark-first, scale-safe design: the reference global-sorts the whole
  * dataset and `zipWithIndex`es it. A naive DataFrame translation would be
  * `row_number()` over an un-partitioned window — a single-task sort that
  * dies at 100 TB. Instead we compute the exact global rank in two bounded
  * passes:
  *
  *   1. bucket every row by approximate time-quantile boundaries
  *      (`approxQuantile`, driver-side array of ≤`numBuckets` doubles);
  *      all rows with equal time land in the same bucket, so bucket order
  *      is consistent with (time, tie) order;
  *   2. count rows per bucket (tiny agg), prefix-sum the counts on the
  *      driver, and add the bucket offset to a *per-bucket*
  *      `row_number()` window — each window partition holds ~n/numBuckets
  *      rows, so no task ever sees more than a shard of the data.
  *
  * The resulting rank is exact and deterministic (ties broken by `tieCol`),
  * and every stage is a narrow agg or a bounded window — nothing global.
  */
object ChronoSplit {

  /** Split `df` into `weights.size` contiguous chronological slices.
    *
    * @param df       input; schema is preserved in each output slice
    * @param weights  relative sizes, e.g. Seq(0.8, 0.2); normalized by sum
    * @param timeCol  numeric or timestamp column defining chronology
    * @param tieCol   unique column breaking ties for a total order
    * @param numBuckets quantile-bucket fan-out for the bounded windows
    */
  def split(
      df: DataFrame,
      weights: Seq[Double],
      timeCol: String,
      tieCol: String,
      numBuckets: Int = 0): Seq[DataFrame] = {
    require(weights.nonEmpty && weights.forall(_ > 0), "weights must be positive")
    val n = df.agg(count(lit(1))).head().getLong(0)
    // Materialized once: every returned slice filters this table, and the
    // rank pipeline (quantile probe + bucket counts + window) should not
    // re-execute per slice consumed.
    val ranked = withGlobalRank(df, timeCol, tieCol,
      if (numBuckets > 0) numBuckets else adaptiveBuckets(n))
      .transform(graft.Tables.checkpoint)
    val sum = weights.sum
    // Cumulative row-count boundaries: slice i = ranks (k(i-1), k(i)].
    val ks = weights.scanLeft(0.0)(_ + _).map(c => math.floor(c / sum * n).toLong)
    ks.sliding(2).toSeq.map { case Seq(lo, hi) =>
      ranked
        .filter(col(RankCol) > lo && col(RankCol) <= hi)
        .drop(RankCol)
    }
  }

  /** Per-group chronological split — the leave-last-out protocol
    * recommender evaluation actually needs (a GLOBAL time cut puts
    * early-lifecycle users entirely in train and late joiners entirely
    * in test; cutting each user's own history keeps every user in
    * both). Returns the slices in weight order, each preserving the
    * schema; within a group the split is an integer-exact rank band
    * over (timeCol, tieCol) via [[Sampling.rankBand]] — one shuffle per
    * slice on the group key, no global sort anywhere. */
  def splitPerGroup(
      df: DataFrame,
      groupCol: String,
      weights: Seq[Double],
      timeCol: String,
      tieCol: String): Seq[DataFrame] = {
    require(weights.nonEmpty && weights.forall(_ > 0), "weights must be positive")
    // Rational boundaries over a common denominator keep the band
    // arithmetic integer-exact (weights like 0.8/0.2 → 8/10).
    val denom = 1000000L
    val sum = weights.sum
    val cuts = weights.scanLeft(0.0)(_ + _)
      .map(c => math.round(c / sum * denom))
    cuts.sliding(2).toSeq.map { case Seq(lo, hi) =>
      Sampling.rankBand(df, Seq(col(groupCol)),
        Seq(col(timeCol), col(tieCol)), lo, hi, denom)
    }
  }

  /** Rolling-origin (expanding-window) backtest folds — the time-series
    * cross-validation protocol: fold i trains on everything at-or-before
    * cutoff_i and tests on (cutoff_i, cutoff_(i+1)], with integer-µs
    * cutoffs dividing [min, max] into folds+1 equal spans. Returns the
    * input fanned out to (fold, role) rows — train rows replicate into
    * every later fold by construction (the window expands), so at scale
    * consumers should aggregate per fold in the same pass rather than
    * materialize the fan-out. Plan shape: one tiny bounds aggregate and
    * one fold-id range, both broadcast — the only shuffle is whatever
    * the consumer's own aggregation needs. */
  def rollingOrigin(df: DataFrame, timeCol: String, folds: Int): DataFrame = {
    require(folds > 0, "folds must be positive")
    val t = unix_micros(col(timeCol).cast(org.apache.spark.sql.types.TimestampType))
    val bounds = df.agg(min(t).as("__tmin"), max(t).as("__tmax"))
    val foldIds = df.sparkSession.range(1, folds + 1L).select(col("id").as("fold"))
    val k = folds + 1
    // Integer division keeps cutoffs engine-exact (a double span/k would
    // round differently across engines at epoch-µs magnitudes).
    val lo = expr(s"__tmin + ((__tmax - __tmin) * fold) div $k")
    val hi = expr(s"__tmin + ((__tmax - __tmin) * (fold + 1)) div $k")
    df.withColumn("__t", t)
      .crossJoin(broadcast(bounds))
      .crossJoin(broadcast(foldIds))
      .withColumn("role",
        when(col("__t") <= lo, lit("train"))
          .when(col("__t") <= hi, lit("test")))
      .filter(col("role").isNotNull)
      .drop("__t", "__tmin", "__tmax")
  }

  /** Bucket fan-out sized so each per-bucket window stays comfortably
    * in one task (~1M rows) while the bucket-assignment expression (one
    * pass over the literal cut array per row) stays cheap. */
  def adaptiveBuckets(n: Long): Int =
    math.min(4096L, math.max(32L, n / 1000000L)).toInt

  /** Column name used internally for the exact global rank (1-based). */
  val RankCol = "__graft_chrono_rank"

  /** `df` plus an exact 1-based global rank by (timeCol, tieCol), computed
    * without any single-partition stage. Exposed for testing. */
  def withGlobalRank(
      df: DataFrame,
      timeCol: String,
      tieCol: String,
      numBuckets: Int = 256): DataFrame =
    withOrderStats(df, timeCol, tieCol, numBuckets = numBuckets)

  /** Prefix-column name for an inclusive running sum of `c`. */
  def cumCol(c: String): String = s"__graft_cum_$c"

  /** Prefix-column name for an exclusive running max of `c`. */
  def hwmCol(c: String): String = s"__graft_hwm_$c"

  /** Exact per-row order statistics over the (orderCol, tieCol) total
    * order — optionally within `partitionCols` groups — with EVERY
    * window partitioned by a quantile bucket, never a single-partition
    * (or single-hot-group) sort. This is the scale-safe replacement for
    * `Window.orderBy(...)` over raw-table inputs: at 100 TB an
    * unpartitioned WindowExec moves the whole table through one task.
    *
    * Adds to `df`:
    *   - [[RankCol]]: exact 1-based rank within the group (global when
    *     `partitionCols` is empty) — when `withRank`
    *   - [[cumCol]](c): INCLUSIVE running sum of long column c
    *   - [[hwmCol]](c): EXCLUSIVE running max of long column c (null on
    *     each group's first row — "highest value among strictly earlier
    *     rows", the watermark shape)
    *
    * Sum/max columns must be integral (LongType): integer prefix
    * arithmetic is associative, so results are bit-identical however
    * the quantile buckets land. Mechanics: bucket by approx-quantile
    * cuts of `orderCol` (equal values ⇒ equal bucket, so bucket order
    * refines value order); aggregate count/sum/max per (group, bucket);
    * prefix the tiny aggregate — driver-side map literal when global
    * (≤ numBuckets rows), a partitioned window over the aggregate when
    * grouped (≤ numBuckets rows per group) — and combine each with a
    * per-(group, bucket) bounded window. */
  def withOrderStats(
      df: DataFrame,
      orderCol: String,
      tieCol: String,
      partitionCols: Seq[String] = Nil,
      sumCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      withRank: Boolean = true,
      numBuckets: Int = 256): DataFrame = {
    val t = col(orderCol).cast("double")
    val probed = df.withColumn("__graft_t", t)
    val fractions = (1 until numBuckets).map(_.toDouble / numBuckets).toArray
    val cuts = probed.stat
      .approxQuantile("__graft_t", fractions, 0.001)
      .map(c => if (c == 0.0d) 0.0d else c) // −0.0 → 0.0, see BucketIndex
      .distinct.sorted
    // bucket id = #cuts strictly below t → equal t ⇒ equal bucket, and
    // bucket order is consistent with t order. Assignment is the native
    // codegen'd binary search [[graft.functions.BucketIndex]]: an
    // aggregate() fold over the cut literal walks all N cuts through
    // interpreted lambdas AND re-inlines a computed order column into
    // every comparison via projection collapse (87 s at sf0.1 on
    // weighted_median); the expression evaluates the column once and
    // compares log₂N times inside whole-stage codegen.
    val shim = org.apache.spark.sql.graftshim.GraftSqlShim
    val bucket = shim.column(
      graft.functions.BucketIndex(shim.expression(t), cuts))
    val bucketed = probed.withColumn("__graft_bucket", bucket)

    val statAggs = count(lit(1)).as("__graft_cnt") +:
      (sumCols.map(c => sum(col(c)).as(s"__graft_s_$c")) ++
        maxCols.map(c => max(col(c)).as(s"__graft_m_$c")))
    val withPrefixes: DataFrame =
      if (partitionCols.isEmpty) {
        // Driver-side exclusive prefixes (≤ numBuckets rows), shipped
        // back as O(1)-lookup map literals — no window at all on the
        // aggregate, so nothing unpartitioned anywhere in the plan.
        val rows = bucketed.groupBy("__graft_bucket")
          .agg(statAggs.head, statAggs.tail: _*).collect()
        val byBucket = rows.map(r => r.getInt(0) -> r).toMap
        def lookup(m: Map[Int, Long]): Column =
          if (m.isEmpty) lit(null).cast("long")
          else element_at(typedLit(m), col("__graft_bucket"))
        val offsets: Map[Int, Long] = {
          var acc = 0L
          (0 to cuts.length).map { b =>
            val o = b -> acc
            acc += byBucket.get(b).map(_.getLong(1)).getOrElse(0L)
            o
          }.toMap
        }
        var out = bucketed
          .withColumn("__graft_off", element_at(typedLit(offsets), col("__graft_bucket")))
        sumCols.foreach { c =>
          val m = {
            var acc = 0L
            (0 to cuts.length).map { b =>
              val o = b -> acc
              acc += byBucket.get(b)
                .map(r => r.getLong(r.fieldIndex(s"__graft_s_$c"))).getOrElse(0L)
              o
            }.toMap
          }
          out = out.withColumn(s"__graft_ps_$c",
            element_at(typedLit(m), col("__graft_bucket")))
        }
        maxCols.foreach { c =>
          // exclusive running max over buckets; only buckets with a
          // non-empty predecessor get an entry (missing key → null).
          val m = {
            var acc = Option.empty[Long]
            val pairs = (0 to cuts.length).flatMap { b =>
              val o = acc.map(b -> _)
              byBucket.get(b).foreach { r =>
                val v = r.getLong(r.fieldIndex(s"__graft_m_$c"))
                acc = Some(acc.fold(v)(math.max(_, v)))
              }
              o
            }
            pairs.toMap
          }
          out = out.withColumn(s"__graft_pm_$c", lookup(m))
        }
        out
      } else {
        // Grouped: prefix the tiny (group, bucket) aggregate with a
        // window PARTITIONED by the group (≤ numBuckets rows each),
        // then join back on (group, bucket) — same key as the main
        // windows below, so the exchange is reused.
        val gb = partitionCols.map(col) :+ col("__graft_bucket")
        val perBucket = bucketed.groupBy(gb: _*).agg(statAggs.head, statAggs.tail: _*)
        val wpre = Window.partitionBy(partitionCols.map(col): _*)
          .orderBy("__graft_bucket")
          .rowsBetween(Window.unboundedPreceding, -1)
        var pre = perBucket
          .withColumn("__graft_off", coalesce(sum("__graft_cnt").over(wpre), lit(0L)))
        sumCols.foreach(c => pre = pre.withColumn(s"__graft_ps_$c",
          coalesce(sum(s"__graft_s_$c").over(wpre), lit(0L))))
        maxCols.foreach(c => pre = pre.withColumn(s"__graft_pm_$c",
          max(s"__graft_m_$c").over(wpre)))
        val keep = (partitionCols :+ "__graft_bucket") ++ Seq("__graft_off") ++
          sumCols.map(c => s"__graft_ps_$c") ++ maxCols.map(c => s"__graft_pm_$c")
        bucketed.join(pre.select(keep.map(col): _*),
          partitionCols :+ "__graft_bucket")
      }

    val wParts = (partitionCols :+ "__graft_bucket").map(col)
    val ord = Seq(col(orderCol), col(tieCol))
    val wRank = Window.partitionBy(wParts: _*).orderBy(ord: _*)
    val wInc = wRank.rowsBetween(Window.unboundedPreceding, 0)
    val wExc = wRank.rowsBetween(Window.unboundedPreceding, -1)
    var out = withPrefixes
    if (withRank)
      out = out.withColumn(RankCol,
        row_number().over(wRank).cast("long") + col("__graft_off"))
    sumCols.foreach(c => out = out.withColumn(cumCol(c),
      sum(col(c)).over(wInc) + col(s"__graft_ps_$c")))
    maxCols.foreach(c => out = out.withColumn(hwmCol(c),
      greatest(max(col(c)).over(wExc), col(s"__graft_pm_$c"))))
    val dropCols = Seq("__graft_t", "__graft_bucket", "__graft_off") ++
      sumCols.map(c => s"__graft_ps_$c") ++ maxCols.map(c => s"__graft_pm_$c")
    out.drop(dropCols: _*)
  }

  /** Exact SQL `ntile(b) OVER (ORDER BY orderCol, tieCol)` without an
    * unpartitioned window: the rank comes from [[withOrderStats]]'
    * bucketed windows and the bin index is the standard
    * fill-first-bins-one-fuller integer formula — with q = N div b and
    * r = N mod b, ranks ≤ (q+1)·r land in bin (rank−1) div (q+1) + 1
    * and the rest in r + (rank − r·(q+1) − 1) div q + 1. All integer
    * arithmetic over a total order, so the result is engine-exact; for
    * a DESC ntile pass a negated derived column. */
  def withNtile(
      df: DataFrame,
      orderCol: String,
      tieCol: String,
      buckets: Int,
      outCol: String,
      numBuckets: Int = 256): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val n = df.agg(count(lit(1)).as("__graft_n"))
    withOrderStats(df, orderCol, tieCol, numBuckets = numBuckets)
      .crossJoin(broadcast(n))
      .withColumn(outCol, expr(
        s"""CASE WHEN $RankCol <= (__graft_n div $buckets + 1) * (__graft_n % $buckets)
           |  THEN ($RankCol - 1) div (__graft_n div $buckets + 1) + 1
           |  ELSE __graft_n % $buckets
           |    + ($RankCol - (__graft_n % $buckets) * (__graft_n div $buckets + 1) - 1)
           |      div (__graft_n div $buckets) + 1 END""".stripMargin))
      .drop(RankCol, "__graft_n")
  }
}
