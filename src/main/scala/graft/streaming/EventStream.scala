package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming over the events table (SURVEY §2 #29): watermarked
  * tumbling-window aggregation, runnable either as a long-lived stream or
  * drained batch-equivalently for verification.
  *
  * Scale notes: the aggregation state is bounded by the watermark (late
  * data beyond 1 hour is dropped, closed windows are evicted), keys are
  * (window, event_type) so state is O(#types · #open windows), and the
  * query shape (groupBy window + agg) is the canonical incremental
  * hash-aggregation Structured Streaming plans with partial aggregation
  * per micro-batch.
  */
object EventStream {

  /** The streaming aggregation: hourly tumbling windows per event type. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Drain the events parquet through the streaming query ([[Drain]]
    * harness) — the batch-equivalence path for the SQL oracle. Uses
    * `complete` output mode so every window is emitted regardless of the
    * final watermark position. */
  def runBatchEquivalent(spark: SparkSession, dir: String): DataFrame =
    Drain.toMemory(windowedAgg(Drain.events(spark, dir)), "complete", "graft_stream")

  /** Sliding-window variant: 1-hour windows advancing every 30 minutes,
    * so each event lands in exactly two overlapping windows. State is
    * window-count-bounded exactly like the tumbling case (the engine
    * expands each row to its windows before the same incremental hash
    * aggregation). */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Batch-equivalence drain of [[slidingAgg]]. */
  def runSlidingBatchEquivalent(spark: SparkSession, dir: String): DataFrame =
    Drain.toMemory(slidingAgg(Drain.events(spark, dir)), "complete", "graft_sliding")

  /** Streaming hourly OHLC per event type: open/close ride
    * `min/max(struct(ts, id, value))` — mergeable aggregation state
    * (one struct per open window), so the candlestick updates
    * incrementally without any per-window sort or event buffering.
    * The drained sink must hash-match the batch `events_ohlc` rollup. */
  def ohlcAgg(events: DataFrame): DataFrame = {
    def key = struct(unix_micros(col("ts")).as("t"),
      col("event_id").as("i"), col("value").as("v"))
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(key).getField("v").as("open"),
        max("value").as("high"), min("value").as("low"),
        max(key).getField("v").as("close"))
      .select(unix_micros(col("w.start")).as("hour_us"), col("event_type"),
        col("n"), col("open"), col("high"), col("low"), col("close"))
  }

  /** Batch-equivalence drain of [[ohlcAgg]]. */
  def runOhlcBatchEquivalent(spark: SparkSession, dir: String): DataFrame =
    Drain.toMemory(ohlcAgg(Drain.events(spark, dir)), "complete", "graft_ohlc")

  /** Declarative gap sessionization via the engine's own
    * `session_window` — the built-in counterpart of the
    * `flatMapGroupsWithState` sessionizer (`SessionStream`): windows
    * [t, t+gap) union when they overlap (a gap of EXACTLY 30 min
    * starts a new session — strict-interval semantics), and append
    * mode emits each session once its window end drops below the
    * watermark. Same state bound, zero custom state code. */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"), col("sum_value"))

  /** Batch-equivalence drain of [[sessionWindowAgg]]. */
  def runSessionWindowBatchEquivalent(spark: SparkSession, dir: String): DataFrame =
    Drain.toMemory(sessionWindowAgg(Drain.events(spark, dir)), "append", "graft_swin")

  /** Streaming windowed count-min sketch: per hourly tumbling window,
    * the depth×width CM counters of the user-id stream
    * ([[graft.ops.Sketches.cmBucket]] md5 arithmetic) — live mergeable
    * frequency summaries with watermark-evicted state (≤ depth·width
    * counters per open window, regardless of stream volume). Counters
    * are deterministic integers, so the drained sink hash-matches a
    * batch recomputation exactly. */
  def cmSketchAgg(events: DataFrame, depth: Int = 4, width: Int = 64): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .select(col("ts"), col("user_id").cast("string").as("item"))
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("r"),
        graft.ops.Sketches.cmBucket(col("r"), col("item"), width).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("r").cast("long").as("r"), col("bucket"), col("cnt"))

  /** Batch-equivalence drain of [[cmSketchAgg]]. */
  def runCmBatchEquivalent(spark: SparkSession, dir: String): DataFrame =
    Drain.toMemory(cmSketchAgg(Drain.events(spark, dir)), "complete", "graft_scm")

  /** Streaming per-window log₂-bucket value histogram — the mergeable
    * quantile sketch of the batch `logbin_quantiles` kept LIVE: state
    * is (window, type, bucket) counts (watermark-evicted), and the
    * bucket is the exact `length(bin(v)) − 1` integer, so the drained
    * sink equals the batch recomputation bit-for-bit. */
  def logbinAgg(events: DataFrame): DataFrame =
    events
      .filter(expr("cast(round(value*1e6) as bigint) >= 1"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"),
        expr("length(bin(cast(round(value*1e6) as bigint))) - 1").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("bucket"), col("c"))

  def runLogbinBatchEquivalent(spark: SparkSession, dir: String): DataFrame =
    Drain.toMemory(logbinAgg(Drain.events(spark, dir)), "complete", "graft_slogbin")

  /** Streaming per-window top-k event types: the windowed-counts stream
    * (state bounded exactly as [[windowedAgg]]) ranked top-3 per window
    * as a batch step over the drained sink. Ranking inside the stream
    * would force complete-mode global state; rank-on-sink is the
    * production pattern — the sink table is one row per (window, type),
    * so the batch ranking is negligible at any scale. */
  def runTopkBatchEquivalent(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Drain.toMemory(
      windowedAgg(Drain.events(spark, dir)), "complete", "graft_stopk")
    val w = Window.partitionBy("window_start")
      .orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("window_start", "event_type", "n_events", "rk")
  }

  /** Streaming drift monitor: per-hourly-window PSI of the binned value
    * distribution against the static global reference — the live
    * version of the batch [[graft.ops.Drift.psi]] screen. The stream
    * carries only (window, bin) counts (state = 10 bins × open windows,
    * watermark-evicted); the PSI arithmetic runs as a batch step over
    * the drained sink joined to the broadcast reference histogram. The
    * reference bounds are two driver doubles — the same bounded-scalar
    * pattern as the IVF centroids. */
  def runDriftBatchEquivalent(spark: SparkSession, dir: String): DataFrame = {
    val static = graft.Tables.events(spark, dir)
    val r = static.agg(min("value"), max("value")).collect()(0)
    val (mn, mx) = (r.getDouble(0), r.getDouble(1))
    def bin(v: org.apache.spark.sql.Column) =
      least(floor((v - lit(mn)) * 10 / lit(mx - mn)), lit(9L)).cast("long")
    val ref = static.groupBy(bin(col("value")).as("bin"))
      .agg(count(lit(1)).as("ref_cnt"))
    val refN = static.count().toDouble
    val counts = Drain.toMemory(
      Drain.events(spark, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), bin(col("value")).as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("bin"), col("cnt")),
      "complete", "graft_sdrift")
      // The sink view joins against its own aggregate below; break the
      // view lineage so the self-reference gets fresh attribute ids.
      .transform(graft.Tables.checkpoint)
    val totals = counts.groupBy("window_start").agg(sum("cnt").as("n_events"))
    val grid = totals.select(col("window_start"), col("n_events"),
      explode(sequence(lit(0L), lit(9L))).as("bin"))
    grid
      .join(counts, Seq("window_start", "bin"), "left")
      .join(broadcast(ref), Seq("bin"), "left")
      .withColumn("pw",
        (coalesce(col("cnt"), lit(0L)) + 0.5) / (col("n_events") + 5.0))
      .withColumn("pr",
        (coalesce(col("ref_cnt"), lit(0L)) + 0.5) / lit(refN + 5.0))
      .groupBy("window_start")
      .agg(max("n_events").as("n_events"),
        round(sum((col("pw") - col("pr")) * log(col("pw") / col("pr"))), 6)
          .as("psi"))
  }

  /** Streaming windowed APPROXIMATE distinct users: HLL++ sketch state
    * per (window, type) — fixed KBs instead of the unbounded exact
    * distinct-user set a streaming `count(distinct)` would need (which
    * Structured Streaming rightly refuses to run). The accuracy audit
    * lives in [[runDistinctBatchEquivalent]]. */
  def distinctAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(approx_count_distinct("user_id", rsd = 0.05).as("approx_users"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("approx_users"))

  /** Drain [[distinctAgg]] and audit every window's sketch against the
    * batch-exact distinct count — ships (exact, in-bound?) so the
    * error is hash-checked per window, not assumed. The bound is
    * 25%·exact + 2 — five standard errors of the rsd=0.05 sketch plus
    * small-range slack (HLL's sparse/linear-counting regime sees ±1–4
    * absolute at the tens-of-users cardinalities these windows carry;
    * measured max across sf0.001–0.1: abs 4, relative 16.7%, so the
    * bound holds with ~2× margin on deterministic data). */
  def runDistinctBatchEquivalent(spark: SparkSession, dir: String): DataFrame = {
    val approx = Drain.toMemory(
      distinctAgg(Drain.events(spark, dir)), "complete", "graft_sdistinct")
    val exact = graft.Tables.events(spark, dir)
      .groupBy(
        expr("(unix_micros(ts) div 3600000000) * 3600").as("window_start"),
        col("event_type"))
      .agg(countDistinct("user_id").as("exact_users"))
    approx.join(exact, Seq("window_start", "event_type"))
      .select(col("window_start"), col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users") * 0.25 + 2).as("distinct_ok"))
  }
}
