package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based group profiling: the 100 TB replacement for exact
  * per-group reports ([[graft.queries.OpsQueries]]'s `corpus_stats`
  * computes exact distincts and exact percentiles, which cost a
  * per-group distinct shuffle and a full sort respectively). Both
  * sketches here are one-pass, partial-aggregable, fixed-size state:
  *
  *  - distinct counts via HyperLogLog++ (`approx_count_distinct`,
  *    relative sd `rsd`, default 5%) — KB of state per group instead of
  *    a distinct-key exchange;
  *  - percentiles via Spark's Greenwald-Khanna quantile summary
  *    (`percentile_approx`, rank error ≤ 1/`accuracy`) — bounded summary
  *    instead of a per-group sort.
  *
  * Map-side partial aggregation collapses every scan partition to one
  * sketch per group before the single exchange, so the shuffle volume is
  * #groups × sketch size, independent of row count — exactly what a
  * 1000-executor scan of a 100 TB corpus needs.
  *
  * The driver query (`sketch_profile`) audits both sketches against
  * their exact counterparts at gate scale and ships booleans, so the
  * error bounds are hash-checked, not assumed.
  */
object Sketches {

  /** Per-group profile: exact row count, HLL distinct of `distinctCol`,
    * and GK approximate `percentiles` of `valueCol` (array column, in
    * the order given). */
  def groupProfile(
      df: DataFrame,
      groupCol: String,
      distinctCol: String,
      valueCol: String,
      percentiles: Seq[Double],
      rsd: Double = 0.05,
      accuracy: Int = 10000): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 1),
      "percentiles must be fractions in [0, 1]")
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        approx_count_distinct(col(distinctCol), rsd).as("approx_distinct"),
        percentile_approx(
          col(valueCol),
          array(percentiles.map(lit): _*),
          lit(accuracy)).as("approx_percentiles"))
  }

  /** Exact audit counterpart of [[groupProfile]] — same shape, exact
    * aggregates. Gate-scale only: the distinct and the percentiles here
    * are the very shuffles the sketches exist to avoid. */
  def groupProfileExact(
      df: DataFrame,
      groupCol: String,
      distinctCol: String,
      valueCol: String,
      percentiles: Seq[Double]): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows_exact"),
        countDistinct(col(distinctCol)).as("exact_distinct"),
        percentile(
          col(valueCol),
          array(percentiles.map(lit): _*)).as("exact_percentiles"))

  /** Exact φ-heavy hitters via a per-partition Misra-Gries summary +
    * exact verification — the candidates-then-verify discipline the
    * Bloom decontam and LSH audits use, applied to frequent items:
    *
    *  1. each partition runs Misra-Gries with k = ⌈2/φ⌉ counters
    *     (amortized O(1) per row: every decrement-all event retires
    *     k+1 occurrences, so ≤ n/(k+1) events total). An item with
    *     global frequency ≥ φN has f_i/n_i ≥ 1/k > 1/(k+1) on at
    *     least one partition (weighted-average pigeonhole), and MG
    *     retains every item with local frequency > n_i/(k+1) — so the
    *     candidate union has NO false negatives at threshold φN;
    *  2. candidates (≤ #partitions × k rows — KBs) are exactly counted
    *     via a semi-join and filtered to frequency ≥ ⌈φN⌉.
    *
    * The result is therefore EXACTLY the items with frequency ≥ ⌈φN⌉
    * with their exact counts — SQL-decidable, while the full-stream
    * shuffle only ever carries candidate items. Returns (item, freq). */
  def heavyHitters(df: DataFrame, itemCol: String, phi: Double): DataFrame = {
    require(phi > 0 && phi < 1, "phi must be in (0, 1)")
    val spark = df.sparkSession
    import spark.implicits._
    val items = df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    val k = math.max(math.ceil(2.0 / phi).toInt, 4)
    // One scan yields BOTH the candidate set and the stream size: each
    // partition emits its MG survivors as (item, null) plus one sentinel
    // (null, n_i) row carrying its row count, so `total` needs no second
    // pass over the stream.
    val summary = items.as[String]
      .mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        var n = 0L
        it.foreach { x =>
          n += 1
          counts.get(x) match {
            case Some(c) => counts.update(x, c + 1)
            case None if counts.size < k => counts.update(x, 1L)
            case None =>
              counts.keys.toArray.foreach { key =>
                val c = counts(key) - 1
                if (c == 0L) counts.remove(key) else counts.update(key, c)
              }
          }
        }
        counts.keysIterator.map(item => (Option(item), None: Option[Long])) ++
          Iterator((None: Option[String], Some(n)))
      }
      .toDF("item", "n_part")
      .transform(graft.Tables.checkpoint) // tiny (≤ partitions × (k+1) rows)
    val total = summary.agg(coalesce(sum("n_part"), lit(0L))).head.getLong(0)
    val candidates = summary.filter(col("item").isNotNull)
      .select("item").distinct()
    val thresh = math.ceil(phi * total).toLong
    items.join(broadcast(candidates), Seq("item"), "left_semi")
      .groupBy("item")
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= thresh)
  }

  /** Key-distribution audit for join planning — the query you run on a
    * join key BEFORE deciding between a plain shuffle join, salting
    * ([[SkewJoin]]), or a broadcast: one row of
    * (n_rows, n_keys, top_key, top_frac, entropy_nats).
    *
    * `top_frac` is the share of the hottest key (straggler-task bound
    * for a hash partition on this key); `entropy_nats` is the Shannon
    * entropy of the key distribution (ln n_keys = perfectly uniform).
    * Ties on the hot key break to the LARGEST key so the answer is
    * deterministic. One aggregation collapses the stream to key counts
    * (partial-agg), then a single-row reduce — nothing scales with row
    * count past the first exchange. */
  def skewProfile(df: DataFrame, keyCol: String): DataFrame = {
    df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
      .agg(
        sum("n").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(struct(col("n"), col("key"))).as("top"),
        sum(col("n") * log(col("n"))).as("sum_nlogn"))
      .select(
        col("n_rows"), col("n_keys"),
        col("top.key").as("top_key"),
        round(col("top.n") / col("n_rows"), 6).as("top_frac"),
        // -Σ pᵢ ln pᵢ  =  ln N − (Σ nᵢ ln nᵢ)/N, from the same counts
        round(log(col("n_rows")) - col("sum_nlogn") / col("n_rows"), 6)
          .as("entropy_nats"))
  }

  /** Equi-depth histogram of `valueCol` per group: `buckets` quantile
    * buckets of (as near as possible) equal row count via `ntile` over
    * (value, tieCol) — the total order makes bucket membership
    * deterministic. Emits (group, bucket, n, lo, hi).
    *
    * Complements [[histogram]] (equal-width): depth buckets answer
    * "where does the mass sit" under skew, width buckets answer "what
    * does the range look like". The per-group sort is the honest cost
    * of exact depth buckets; at extreme per-group cardinality the
    * approximate path is `percentile_approx` cuts + a bucket join
    * (same output schema, GK-bounded error). */
  def equiDepthHistogram(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      tieCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, "need at least one bucket")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(tieCol))
    df.select(col(groupCol), col(valueCol), col(tieCol))
      .withColumn("bucket", ntile(buckets).over(w))
      .groupBy(col(groupCol), col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        round(min(valueCol), 6).as("lo"),
        round(max(valueCol), 6).as("hi"))
  }

  /** Equal-width histogram of `valueCol` per group: `bins` buckets over
    * each group's own [min, max] range (the top edge closes into the
    * last bin), emitted long-form (group, bin, n). A zero-width group
    * (constant values) lands entirely in bin 0.
    *
    * Scale shape: one min/max aggregation, a broadcast range join, and
    * one (group, bin)-keyed count — all partial-aggregable, no sort. */
  def histogram(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      bins: Int = 10): DataFrame = {
    require(bins > 0, "bins must be positive")
    val range = df.groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("__lo"), max(col(valueCol)).as("__hi"))
    df.join(broadcast(range), groupCol)
      .withColumn("bin",
        when(col("__hi") === col("__lo"), lit(0))
          .otherwise(least(
            floor((col(valueCol) - col("__lo")) * bins / (col("__hi") - col("__lo"))),
            lit(bins - 1))).cast("int"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Join-key overlap profile between two key columns — the pre-join
    * planning statistic that decides whether a join is worth a runtime
    * filter ([[BloomJoin]]), a broadcast, or is a near-total match where
    * pruning buys nothing. One row: exact |A|, |B|, |A∩B| (distinct key
    * sets), plus an `est_ok` audit that the HLL inclusion-exclusion
    * estimate (|A| + |B| − |A∪B|, each via HyperLogLog++ at `rsd`)
    * lands within `tol·(|A|+|B|)` of the exact intersection.
    *
    * Scale shape: both sides are tagged and unioned once, then
    *  (1) the exact counts come from ONE key-keyed aggregate (map-side
    *      partial per-key side-masks, shuffle bounded by key
    *      cardinality) folded to one row, and
    *  (2) the three HLL sketches come from ONE global aggregate with
    *      side-filtered inputs — shuffle = 3 sketches, independent of
    *      rows.
    * Two jobs, two bounded shuffles, each input scanned once. (A naive
    * formulation — distinct + semi-join + three separate sketch aggs —
    * is 6+ scans; it benched 48 s at sf0.1 where this shape is ~5 s.)
    * At 100 TB a planner would run ONLY the sketch aggregate — the
    * exact side exists so the gate hash-checks the estimate instead of
    * assuming it.
    *
    * `rsd` has a cost cliff: 0.02 keeps HLL++ in ~2^12 registers
    * (probe: 1.0 s at sf0.1); 0.005 forces 2^16 dense registers whose
    * per-task buffers and merges dominate (12.7 s for the SAME data).
    * The inclusion-exclusion error is ~√3·rsd·|A∪B|, so 0.02 stays
    * inside the 5%·(|A|+|B|) audit bound with margin. */
  def keyOverlap(
      a: DataFrame,
      aCol: String,
      b: DataFrame,
      bCol: String,
      rsd: Double = 0.02,
      tol: Double = 0.05): DataFrame = {
    require(rsd > 0 && tol > 0, "rsd and tol must be positive")
    val tagged = a.select(col(aCol).cast("long").as("k"), lit(true).as("ia"),
        lit(false).as("ib")).na.drop(Seq("k"))
      .unionAll(b.select(col(bCol).cast("long").as("k"), lit(false).as("ia"),
        lit(true).as("ib")).na.drop(Seq("k")))
    // HLL sketches are duplicate-insensitive, so the estimates computed
    // over the deduped (k, ia, ib) table are identical to raw-stream
    // estimates — which lets the exact tallies and the HLL audit ride ONE
    // aggregation pipeline instead of scanning both inputs twice.
    val exact = tagged
      .groupBy("k")
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
      .agg(count_if(col("ia")).as("n_a"), count_if(col("ib")).as("n_b"),
        count_if(col("ia") && col("ib")).as("n_common"),
        approx_count_distinct(when(col("ia"), col("k")), rsd).as("e_a"),
        approx_count_distinct(when(col("ib"), col("k")), rsd).as("e_b"),
        approx_count_distinct(col("k"), rsd).as("e_u"))
    exact
      .withColumn("est_ok",
        abs(col("e_a") + col("e_b") - col("e_u") - col("n_common")) <=
          greatest(ceil((col("n_a") + col("n_b")) * tol), lit(16L)))
      .select("n_a", "n_b", "n_common", "est_ok")
  }

  /** `depth` md5-derived bucket columns for a count-min sketch row set:
    * bucket(r, item) = md5("r:item")[first 15 hex] mod `width` — the
    * same engine-portable hash arithmetic as the cv-fold / negative-
    * sampling draws, so estimates are DETERMINISTIC integers any engine
    * reproduces exactly (no approximate wiggle to tolerate). */
  def cmBucket(r: Column, item: Column, width: Int): Column =
    pmod(conv(substring(md5(concat(r.cast("string"), lit(":"), item)), 1, 15),
      16, 10).cast("long"), lit(width.toLong))

  /** Count-min sketch of `itemCol` frequencies: (r, bucket, cnt) for
    * r in 0..depth-1 — depth×width longs, mergeable by addition, the
    * classic streaming frequency summary (Cormode-Muthukrishnan).
    *
    * Scale shape: one pass; each row expands to `depth` (r, bucket)
    * keys whose counts partial-aggregate map-side, so the exchange
    * carries at most depth×width cells per partition regardless of
    * input size — the sketch property itself. */
  def cmSketch(df: DataFrame, itemCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, "depth and width must be >= 1")
    df.select(col(itemCol).cast("string").as("item"))
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .groupBy(col("r"), cmBucket(col("r"), col("item"), width).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[cmSketch]] over pre-aggregated (item, count) rows: each counter is
    * Σ weights instead of a row count — bit-identical cells (integer
    * sums), but the bucket hash is computed once per DISTINCT item
    * rather than once per occurrence, so a Zipf-headed stream pays
    * |vocab|·depth hashes, not |rows|·depth. */
  def cmSketchWeighted(
      df: DataFrame, itemCol: String, weightCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, "depth and width must be >= 1")
    df.select(col(itemCol).cast("string").as("item"),
        col(weightCol).cast("long").as("w"))
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .groupBy(col("r"), cmBucket(col("r"), col("item"), width).as("bucket"))
      .agg(sum("w").as("cnt"))
  }

  /** Point estimates from a [[cmSketch]]: min over the depth counters
    * each item hashes to — never under the true count, over by at most
    * εN with the usual (e/width, 1−(1/2)^depth) guarantee. `items` is
    * the (small) query set; the sketch side is depth×width rows, so
    * both join inputs broadcast-scale. Returns (item, n_est). */
  def cmEstimate(
      sketch: DataFrame,
      items: DataFrame,
      itemCol: String,
      depth: Int,
      width: Int): DataFrame =
    items.select(col(itemCol).cast("string").as("item"))
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("bucket", cmBucket(col("r"), col("item"), width))
      .join(sketch, Seq("r", "bucket"), "left")
      .groupBy("item")
      // A bucket no item hashed to never exists in the sketch: its
      // counter is 0, and min must see it — coalesce, don't drop.
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_est"))
}
