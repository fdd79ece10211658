package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical-screen and layout-audit operators: rank tests, divergence
  * matrices, zone-map pruning simulation, and fixed-iteration graph
  * peeling. All are exact-arithmetic or pinned-expression queries with
  * DuckDB oracles.
  */
object StatQueries {

  /** #37m pairwise Jensen-Shannon divergence between the sources'
    * token distributions — the symmetric, bounded [0, ln 2] divergence
    * matrix behind "which corpora are interchangeable" mixing
    * decisions (KL, which `lang_entropy` uses, is neither). Zero-count
    * tokens contribute zero by the p·ln(p/m) convention, so no
    * smoothing constant enters. The pair grid is built by two
    * broadcast joins against the (tiny) source-pair list — never a
    * full-outer self-join of the token table. */
  def sourceJsd(s: SparkSession, dir: String): DataFrame = {
    // Tokenize+explode on a single-split corpus scan would run on one
    // core — distribute the docs before the CPU-bound narrow stage
    // (fanOut: no-op on a wide at-scale scan).
    val lt = Tables.fanOut(Tables.documents(s, dir))
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val n = lt.groupBy("source").agg(sum("c").as("n"))
    val st = lt.join(n, "source")
      .select(col("source"), col("tok"), (col("c") / col("n")).as("p"))
    val srcs = n.select("source")
    val pairs = srcs.as("x").join(srcs.as("y"),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
    val left = st.join(broadcast(pairs), col("source") === col("source_a"))
      .select(col("source_a"), col("source_b"), col("tok"),
        col("p").as("pp"), lit(0.0).as("qq"))
    val right = st.join(broadcast(pairs), col("source") === col("source_b"))
      .select(col("source_a"), col("source_b"), col("tok"),
        lit(0.0).as("pp"), col("p").as("qq"))
    left.unionAll(right)
      .groupBy("source_a", "source_b", "tok")
      .agg(sum("pp").as("p"), sum("qq").as("q"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("term",
        when(col("p") > 0, col("p") * log(col("p") / col("m"))).otherwise(0.0) * 0.5 +
        when(col("q") > 0, col("q") * log(col("q") / col("m"))).otherwise(0.0) * 0.5)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_union_toks"), round(sum("term"), 6).as("jsd"))
      .orderBy("source_a", "source_b")
  }

  /** #46c zone-map pruning audit — simulates parquet row-group
    * min/max skipping over the events table laid out in event_id
    * (insertion) order, split into 64 equal-id-range "files". For each
    * pinned predicate: how many files the zone maps let the scanner
    * skip, how many rows a pruned scan still reads, and how many rows
    * actually match — the read-amplification number that decides
    * whether a sort/Z-order rewrite (`zorder_cells`) pays for itself
    * at 100 TB. All bucket stats are one aggregate; the audit joins
    * 64-row summaries, never rescanning the fact table per predicate. */
  def zonemapPrune(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val bounds = ev.agg(max("event_id").as("mx_id"),
      min("ts_us").as("g_mn"), max("ts_us").as("g_mx"))
    val rows = ev.crossJoin(broadcast(bounds))
      .withColumn("bucket", expr("event_id * 64 div (mx_id + 1)"))
    val z = rows.groupBy("bucket").agg(
      count(lit(1)).as("n_rows"),
      min("value").as("mn_v"), max("value").as("mx_v"),
      min("ts_us").as("mn_t"),
      max("g_mn").as("b_mn"), max("g_mx").as("b_mx"),
      sum(when(col("value") >= 95.0, 1L).otherwise(0L)).as("m_v95"),
      sum(when(col("value").between(40.0, 41.0), 1L).otherwise(0L)).as("m_v4041"),
      sum(when(col("ts_us") <= col("g_mn") + expr("(g_mx - g_mn) div 20"), 1L)
        .otherwise(0L)).as("m_early"))
    val preds = Seq(
      ("value_ge_95", col("mx_v") >= 95.0, col("m_v95")),
      ("value_40_to_41", col("mx_v") >= 40.0 && col("mn_v") <= 41.0, col("m_v4041")),
      ("ts_first_5pct",
        col("mn_t") <= col("b_mn") + expr("(b_mx - b_mn) div 20"), col("m_early")))
    // All three predicates fold in ONE aggregate over the 64 bucket
    // summaries (a per-predicate union would rescan the fact table per
    // branch); the single wide row then unpivots via stack().
    val wide = z.agg(
      count(lit(1)).as("n_files"),
      preds.zipWithIndex.flatMap { case ((_, scan, matched), i) => Seq(
        sum(when(scan, 1L).otherwise(0L)).as(s"s$i"),
        sum(when(scan, col("n_rows")).otherwise(0L)).as(s"r$i"),
        sum(matched).as(s"m$i"))
      }: _*)
    val stackArgs = preds.zipWithIndex
      .map { case ((name, _, _), i) => s"'$name', n_files, s$i, r$i, m$i" }
      .mkString(", ")
    wide.select(expr(s"stack(${preds.length}, $stackArgs) " +
        "as (predicate, n_files, n_scanned, rows_scanned, rows_matching)"))
      .orderBy("predicate")
  }

  /** #19v 2-core of the co-purchase graph by fixed-iteration peeling
    * (4 rounds): repeatedly drop nodes with degree < 2 — the standard
    * pre-filter that strips dangling chains before community or
    * centrality passes. Each round is one degree aggregate plus two
    * semi-joins; no driver-side graph ever materializes, and four
    * rounds is pinned (not to-fixpoint) so the oracle unrolls to the
    * same depth. NOT full k-core decomposition: a dangling chain
    * longer than 4 hops would survive a 4-round peel — this is the
    * declared bounded-depth variant, exactly mirrored by the oracle. */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    val p = OpsQueries.coocPairs(s, dir)
      .select(col("item_a").as("a"), col("item_b").as("b"))
    // Each round references the previous round's edge set three times
    // (degree aggregate + both semi-join probes); without per-round
    // lineage truncation the final plan re-executes every earlier round's
    // subtree per reference (ReusedExchange only partially contains the
    // blow-up — measured 11.8 s → ~1 s at sf0.1). The peeled sets are
    // tiny relative to the input, so the eager checkpoint is cheap at any
    // scale; 4 rounds and the emitted values are unchanged.
    var sym = p.unionAll(p.select(col("b").as("a"), col("a").as("b")))
      .transform(Tables.checkpoint)
    for (_ <- 1 to 4) {
      val keep = sym.groupBy("a").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2).select("a")
      sym = sym
        .join(keep, Seq("a"), "left_semi")
        .join(keep.select(col("a").as("b")), Seq("b"), "left_semi")
        .transform(Tables.checkpoint)
    }
    sym.groupBy(col("a").as("item"))
      .agg(count(lit(1)).as("deg"))
      .orderBy("item")
  }

  /** #29o watermark-lateness audit — for each candidate watermark
    * delay, how many events a streaming job would DROP as late: a row
    * is late when the running max event time over all earlier arrivals
    * (arrival order = event_id, the ingest sequence) exceeds its event
    * time by more than the delay. This is the batch dry-run that
    * tunes `withWatermark` before a deploy: pick the smallest delay
    * whose drop rate is acceptable. The running max over all earlier
    * arrivals comes from [[graft.ops.ChronoSplit.withOrderStats]]'
    * exclusive bucketed prefix-max — the arrival order is still a
    * total order, but no WindowExec ever sees more than one
    * quantile-bucket of rows (the prior global `Window.orderBy` put
    * the whole table in one task); three delays folded as conditional
    * sums, stack() to long form. */
  def watermarkAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.ops.ChronoSplit
      .withOrderStats(
        Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts"))),
        "event_id", "event_id", maxCols = Seq("ts_us"), withRank = false)
      .withColumn("hwm", col(graft.ops.ChronoSplit.hwmCol("ts_us")))
    val delays = Seq(60L, 600L, 3600L)
    val wide = ev.agg(
      count(lit(1)).as("n_events"),
      delays.zipWithIndex.map { case (d, i) =>
        sum(when(col("hwm") - lit(d * 1000000L) > col("ts_us"), 1L)
          .otherwise(0L)).as(s"l$i")
      }: _*)
    val stackArgs = delays.zipWithIndex
      .map { case (d, i) => s"${d}L, n_events, l$i" }.mkString(", ")
    wide.select(expr(s"stack(${delays.length}, $stackArgs) " +
        "as (delay_s, n_events, n_late)"))
      .withColumn("late_bp", expr("n_late * 10000 div n_events"))
      .orderBy("delay_s")
  }

  /** #5ab Hurst exponent by rescaled-range analysis (Hurst 1951,
    * Mandelbrot's R/S) — the long-memory diagnostic the lag-1 ACF
    * can't give: the hourly rate series splits into blocks of
    * m ∈ {8, 16, 32}, each block's range-of-cumulative-deviations
    * over its standard deviation averages to R/S(m), and H is the
    * log-log slope across the three sizes. H ≈ 0.5 = memoryless,
    * H → 1 = persistent trends (burst regimes), H < 0.5 = mean
    * reversion. Blocks are per-type row-rank partitions — every
    * window is partition-local, no global sort. */
  def eventsHurst(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_idx"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy("hour_idx")).cast("long") - 1)
    val rs = Seq(8, 16, 32).map { m =>
      val blocked = hourly.withColumn("blk", expr(s"rk div $m"))
        .withColumn("nblk", count(lit(1)).over(
          Window.partitionBy("event_type", "blk")))
        .filter(col("nblk") === m) // complete blocks only
      val wb = Window.partitionBy("event_type", "blk")
      val wcum = wb.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
      blocked
        .withColumn("mu", avg("n").over(wb))
        .withColumn("cumdev", sum(col("n") - col("mu")).over(wcum))
        .groupBy("event_type", "blk")
        .agg((max("cumdev") - min("cumdev")).as("r"),
          stddev_pop("n").as("sd"))
        .filter(col("sd") > 0)
        .groupBy("event_type")
        .agg(avg(col("r") / col("sd")).as("rs"))
        .withColumn("m", lit(m.toLong))
    }.reduce(_ unionAll _)
    rs.groupBy("event_type")
      .agg(count(lit(1)).as("n_sizes"),
        round(regr_slope(log(col("rs")), log(col("m"))), 6).as("hurst"))
      .filter(col("n_sizes") === 3)
      .select("event_type", "hurst")
      .orderBy("event_type")
  }

  /** #5r' seasonality strength — the fraction of hourly-rate variance
    * the day-of-week × hour-of-day profile explains
    * (1 − var(residual)/var(total), i.e. the R² of the cell-mean
    * model `events_seasonal_anomaly` normalizes by): near 1 means the
    * calendar drives the series and seasonal-adjusted screens are
    * necessary; near 0 means the profile is noise and the plain
    * z-screen suffices. */
  def seasonalityStrength(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_idx"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", expr("(hour_idx div 24 + 4) % 7"))
      .withColumn("hod", expr("hour_idx % 24"))
    val cells = hourly.groupBy("event_type", "dow", "hod")
      .agg(avg("n").as("cell_mean"))
    hourly.join(cells, Seq("event_type", "dow", "hod"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        round(var_pop("n"), 6).as("var_total"),
        round(var_pop(col("n") - col("cell_mean")), 6).as("var_resid"),
        when(var_pop("n") > 0, round(lit(1.0)
          - var_pop(col("n") - col("cell_mean")) / var_pop("n"), 6))
          .as("seasonal_r2"))
      .orderBy("event_type")
  }

  /** #48b posting-list compression estimate — the index-sizing math
    * behind `inverted_index`: per-term sorted doc-id postings encode
    * as deltas under Elias-gamma (2·bitlen(gap) − 1 bits; the first id
    * encodes as id+1), against 64-bit raw postings. Bit lengths are
    * EXACT integers via binary-string length — no float log2 that
    * could round differently — and the report buckets by document
    * frequency, since delta coding wins precisely on dense (high-df)
    * lists. */
  def postingsCompression(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))).as("token"))
    val dft = toks.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("token").orderBy("doc_id")
    val gaps = toks
      .withColumn("gap",
        coalesce(col("doc_id") - lag("doc_id", 1).over(w), col("doc_id") + 1))
      .withColumn("bitlen",
        length(expr("conv(cast(gap as string), 10, 2)")).cast("long"))
    gaps.join(dft, "token")
      .withColumn("df_bucket",
        when(col("df") <= 10, "a_df_1_10")
          .when(col("df") <= 100, "b_df_11_100")
          .otherwise("c_df_over_100"))
      .groupBy("df_bucket")
      .agg(count(lit(1)).as("n_postings"),
        (count(lit(1)) * 64).as("raw_bits"),
        sum(col("bitlen") * 2 - 1).as("gamma_bits"))
      .withColumn("savings_bp",
        expr("greatest(raw_bits - gamma_bits, 0L) * 10000 div raw_bits"))
      .orderBy("df_bucket")
  }

  /** #52b hive-partition skew advisor — the write-layout readout for
    * `partitionBy(lang, source)` output: rows and bytes per partition
    * directory, each partition's share of the largest in basis points,
    * and the max/median byte ratio that predicts straggler tasks and
    * small-file waste before anything is written. Exact integer
    * accounting; the median is the exact lower-median by bytes. */
  def partitionSkew(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.documents(s, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_rows"),
        sum(octet_length(col("text"))).as("bytes"))
    val w = Window.orderBy(col("bytes"), col("lang"), col("source"))
    val ranked = parts.withColumn("rk", row_number().over(w))
    val m = ranked.agg(count(lit(1)).as("np"), max("bytes").as("mx"))
    val med = ranked.crossJoin(broadcast(m))
      .filter(col("rk") === expr("(np + 1) div 2"))
      .select(col("bytes").as("median_bytes"))
    ranked.crossJoin(broadcast(m)).crossJoin(broadcast(med))
      .select(col("lang"), col("source"), col("n_rows"), col("bytes"),
        expr("bytes * 10000 div mx").as("share_of_max_bp"),
        round(col("mx") / col("median_bytes").cast("double"), 6)
          .as("max_over_median"))
      .orderBy("lang", "source")
  }

  /** #5d' Markov next-event prediction accuracy — the sequence-model
    * eval on top of `events_markov`'s transition profile: the argmax
    * next type per previous type is fit on the FIRST time half
    * (min-type tiebreak on equal counts), then scored on the second
    * half's consecutive pairs against the majority-class baseline
    * (always predict the most common type). Transitions never cross
    * the split boundary or a user boundary. */
  def markovAccuracy(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val pairs = ev.crossJoin(broadcast(mid))
      .withColumn("side", when(col("ts_us") <= col("mid"), 0).otherwise(1))
      .withColumn("prev", lag("event_type", 1).over(w))
      .withColumn("prev_side", lag("side", 1).over(w))
      .filter(col("prev").isNotNull && col("prev_side") === col("side"))
    val trained = pairs.filter(col("side") === 0)
      .groupBy(col("prev"), col("event_type").as("nxt"))
      .agg(count(lit(1)).as("c"))
    val wpick = Window.partitionBy("prev").orderBy(col("c").desc, col("nxt"))
    val model = trained.withColumn("rk", row_number().over(wpick))
      .filter(col("rk") === 1).select(col("prev"), col("nxt").as("pred"))
    val base = pairs.filter(col("side") === 0)
      .groupBy("event_type").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("event_type")).limit(1)
      .select(col("event_type").as("base_pred"))
    val test = pairs.filter(col("side") === 1)
      .join(broadcast(model), "prev")
      .crossJoin(broadcast(base))
    test.agg(
      count(lit(1)).as("n_test_pairs"),
      sum(when(col("event_type") === col("pred"), 1L).otherwise(0L)).as("n_correct"),
      sum(when(col("event_type") === col("base_pred"), 1L).otherwise(0L))
        .as("n_base_correct"))
      .select(col("n_test_pairs"), col("n_correct"), col("n_base_correct"),
        expr("n_correct * 10000 div n_test_pairs").as("acc_bp"),
        expr("n_base_correct * 10000 div n_test_pairs").as("base_acc_bp"))
  }

  /** #5aa local peak detection on the hourly volume series — hours
    * that are strict local maxima over both adjacent hours AND clear
    * 1.5× the ±3-hour rolling mean, the prominence gate that filters
    * sawtooth noise. Neighbor checks require actual hour adjacency
    * (calendar gaps disqualify, never alias), and the prominence test
    * runs as exact integers (2·n·cnt > 3·Σ) so no mean rounding can
    * flip a peak between engines. */
  def eventsPeaks(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_idx"))
      .agg(count(lit(1)).as("n"))
    val wl = Window.partitionBy("event_type").orderBy("hour_idx")
    val w7 = Window.partitionBy("event_type").orderBy("hour_idx")
      .rangeBetween(-3, 3)
    hourly
      .withColumn("ph", lag("hour_idx", 1).over(wl))
      .withColumn("pn", lag("n", 1).over(wl))
      .withColumn("nh", lead("hour_idx", 1).over(wl))
      .withColumn("nn", lead("n", 1).over(wl))
      .withColumn("sum7", sum("n").over(w7))
      .withColumn("cnt7", count(lit(1)).over(w7))
      .filter(col("ph") === col("hour_idx") - 1 &&
        col("nh") === col("hour_idx") + 1 &&
        col("n") > col("pn") && col("n") > col("nn") &&
        col("n") * 2 * col("cnt7") > col("sum7") * 3)
      .select(col("event_type"), col("hour_idx"), col("n"),
        col("pn"), col("nn"),
        round(col("sum7") / col("cnt7").cast("double"), 6).as("mean_7h"))
      .orderBy("event_type", "hour_idx")
  }

  /** #4o 2-D skyline / Pareto front (Börzsönyi 2001) — the parts no
    * buyer can strictly improve on in BOTH price and size: computed by
    * the sort + strict-prefix-min sweep (per-price min size, then keep
    * points below every cheaper point's best size), ONE window pass
    * instead of the O(n²) dominance self-join a naive NOT EXISTS
    * would plan. Exact-cents prices; co-located duplicates surface via
    * the representative min-key and a count. */
  def skylineParts(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.part(s, dir)
      .withColumn("price_cents", round(col("p_retailprice") * 100, 0).cast("long"))
    val grouped = pts.groupBy("price_cents", "p_size")
      .agg(min("p_partkey").as("p_partkey"), count(lit(1)).as("n_dup"))
    // Exclusive prefix-min of size over ascending price, computed as
    // the negated bucketed prefix-max (ChronoSplit.withOrderStats) —
    // distinct price points are entity-scale on a web catalog, so the
    // sweep must not sort in one task.
    val perX = grouped.groupBy("price_cents")
      .agg(min("p_size").cast("long").as("mn_size"))
    val sky = graft.ops.ChronoSplit
      .withOrderStats(perX.withColumn("neg_size", -col("mn_size")),
        "price_cents", "price_cents", maxCols = Seq("neg_size"), withRank = false)
      .withColumn("prefix_min", -col(graft.ops.ChronoSplit.hwmCol("neg_size")))
      .filter(col("prefix_min").isNull || col("mn_size") < col("prefix_min"))
      .select(col("price_cents").as("pc"), col("mn_size"))
    sky.join(grouped, col("pc") === col("price_cents") &&
        col("mn_size") === col("p_size"))
      .select(round(col("pc") / lit(100.0), 2).as("price"),
        col("p_size"), col("p_partkey"), col("n_dup"))
      .orderBy("price")
  }

  /** #4n point-in-time backlog aging — for three snapshot instants,
    * the order lines ALREADY ORDERED but NOT YET SHIPPED (o_orderdate
    * ≤ T < l_shipdate), bucketed by how long they had been waiting.
    * This is the open-items/WIP query that naive "group by month"
    * rollups cannot express — every row's membership depends on the
    * snapshot instant, not on its own dates alone. One fact scan fans
    * against a 3-row broadcast snapshot spine; age buckets are exact
    * integer day arithmetic. */
  def backlogAging(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("od_us", unix_micros(col("o_orderdate").cast("timestamp")))
      .withColumn("sd_us", unix_micros(col("l_shipdate").cast("timestamp")))
    val bounds = li.agg(min("od_us").as("g_mn"), max("sd_us").as("g_mx"))
    val snaps = s.range(1, 4).select(col("id").as("snap"))
    val fanned = li.crossJoin(broadcast(bounds)).crossJoin(broadcast(snaps))
      .withColumn("t_us", expr("g_mn + (g_mx - g_mn) * snap div 4"))
      .filter(col("od_us") <= col("t_us") && col("t_us") < col("sd_us"))
      .withColumn("age_days", expr("(t_us - od_us) div 86400000000"))
      .withColumn("bucket",
        when(col("age_days") < 30, "0_under_30d")
          .when(col("age_days") < 90, "1_30_to_90d")
          .otherwise("2_over_90d"))
    fanned.groupBy("snap", "t_us", "bucket")
      .agg(count(lit(1)).as("n_open_lines"),
        round(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          / lit(100.0), 2).as("open_value"))
      .orderBy("snap", "bucket")
  }

  /** #37n AMS (Alon-Matias-Szegedy) F₂ sketch with exact audit — the
    * tug-of-war second-frequency-moment estimator: 32 deterministic
    * ±1 hash signs per user, S_i = Σ f_u·sign_i(u) accumulated in ONE
    * pass over events (each row contributes its sign — no per-user
    * pre-aggregation needed), squared, then median-of-4-means over
    * groups of 8. All state is 32 integers regardless of cardinality;
    * everything up to the final display division stays exact integer,
    * so the estimate itself hash-matches across engines, and the
    * audited ratio to the exact Σf² shows the estimator's real error. */
  def sketchF2(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("user_id")
    // One per-user frequency fold FIRST: S_i = Σ_rows sign_i(user) =
    // Σ_users f_u·sign_i(u) exactly (integer arithmetic), so the 32
    // md5 signs are computed once per DISTINCT user instead of once per
    // event row (|events|×32 string md5s → |users|×32), and the md5 work
    // runs after the groupBy exchange instead of fused onto the
    // single-split scan. The same fold feeds the exact-F₂ audit.
    val freq = ev.groupBy("user_id").agg(count(lit(1)).as("f"))
    val exact = freq.agg(sum(col("f") * col("f")).as("exact_f2"))
    val est = s.range(32).select(col("id").as("i"))
    val signs = freq.crossJoin(broadcast(est))
      .withColumn("sign", expr(
        "1 - 2 * (cast(conv(substring(md5(concat(cast(user_id as string), '#', " +
          "cast(i as string))), 1, 15), 16, 10) as bigint) % 2)"))
    val sums = signs.groupBy("i").agg(sum(col("sign") * col("f")).as("s"))
      .withColumn("s2", col("s") * col("s"))
      .withColumn("grp", expr("i div 8"))
      .groupBy("grp").agg(sum("s2").as("gsum"))
    // median of the 4 group sums = the two middle values (exact ints);
    // estimate = (m2 + m3) / 16  (the /8 group mean and /2 median avg).
    val ranked = sums.withColumn("rk",
      row_number().over(Window.orderBy(col("gsum"), col("grp"))))
    val mid = ranked.filter(col("rk").isin(2, 3))
      .agg(sum("gsum").as("m23"))
    mid.crossJoin(broadcast(exact))
      .select(col("exact_f2"),
        round(col("m23") / lit(16.0), 2).as("estimate"),
        round(col("m23") / lit(16.0) / col("exact_f2"), 6).as("ratio"))
  }

  /** #5z'''' burstiness index (Goh-Barabási) of inter-arrival gaps
    * per event type: B = (σ−μ)/(σ+μ) ∈ (−1, 1) — 0 for Poisson
    * arrivals, → 1 for heavy bursts, < 0 for pacemaker regularity.
    * The distribution-shape companion to `events_dispersion`'s
    * count-variance screen; one lag pass per type.
    *
    * Oracle discipline (round-10 FAIL fix): `stddev_pop` accumulates
    * doubles in engine-specific order, and the last-ulp noise landed
    * on a `round(…, 6)` boundary. Instead aggregate ONLY exact
    * integers — n, Σgap (long), Σgap² (DECIMAL(38,0); ~3e22 at sf0.1
    * exceeds Long) — and derive μ/σ/B with an identical closed form on
    * both sides. The one cross-engine hazard left is big-decimal →
    * double conversion (DuckDB's hugeint cast is two roundings, not
    * one), so Σgap² crosses to double via an exact integer split
    * q = qh·2⁶² + qm·2³¹ + ql whose three components each fit a long
    * and whose recombination is the same correctly-rounded double
    * sequence in both engines — bit-identical by construction, for any
    * q up to ~4e37 (a 6,000-year span of microsecond gaps). */
  def eventsBurstiness(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
    val c1 = 4611686018427387904L // 2^62
    val c2 = 2147483648L // 2^31
    val qd = col("qh").cast("double") * lit(c1.toDouble) +
      col("qm").cast("double") * lit(c2.toDouble) + col("ql").cast("double")
    val mean = col("s").cast("double") / col("n_gaps")
    val sd = sqrt(qd / col("n_gaps") - mean * mean)
    Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(w))
      .filter(col("gap").isNotNull)
      .select(col("event_type"), col("gap"),
        (col("gap").cast(DecimalType(19, 0))
          * col("gap").cast(DecimalType(19, 0))).as("gap2"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum("gap").as("s"), sum("gap2").as("q"))
      .select(col("event_type"), col("n_gaps"), col("s"),
        expr(s"q div ${c1}L").as("qh"),
        expr(s"(q % ${c1}L) div ${c2}L").as("qm"),
        expr(s"CAST(q % ${c2}L AS BIGINT)").as("ql"))
      .select(col("event_type"), col("n_gaps"),
        round(mean, 6).as("mean_gap_us"),
        round(sd, 6).as("sd_gap_us"),
        round((sd - mean) / (sd + mean), 6).as("burstiness"))
      .orderBy("event_type")
  }

  /** #5k''' difference-in-differences readout — the 2×2 the A/B
    * t-test doesn't give: treatment (the hash arm) × period (time
    * halves) cell means of value, with
    * DiD = (T_post − T_pre) − (C_post − C_pre). On a hash-randomized
    * arm the true effect is zero, so the estimate doubles as a
    * placebo/implementation check; all four cells ship with exact
    * counts so the reader can compute any contrast. */
  def eventsDid(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    val cells = ev.crossJoin(broadcast(mid))
      .withColumn("treated",
        pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L) + lit(13L),
          lit(1000000L)) >= 500000L)
      .withColumn("post", col("ts_us") > col("mid"))
      .groupBy("treated", "post")
      .agg(count(lit(1)).as("n"), avg("value").as("mean_v"))
    val wide = cells.agg(
      sum(when(col("treated") && col("post"), col("mean_v"))).as("tp"),
      sum(when(col("treated") && !col("post"), col("mean_v"))).as("tq"),
      sum(when(!col("treated") && col("post"), col("mean_v"))).as("cp"),
      sum(when(!col("treated") && !col("post"), col("mean_v"))).as("cq"),
      sum(when(col("treated") && col("post"), col("n"))).as("n_tp"),
      sum(when(col("treated") && !col("post"), col("n"))).as("n_tq"),
      sum(when(!col("treated") && col("post"), col("n"))).as("n_cp"),
      sum(when(!col("treated") && !col("post"), col("n"))).as("n_cq"))
    wide.select(
      col("n_tp"), col("n_tq"), col("n_cp"), col("n_cq"),
      round(col("tp"), 6).as("mean_treated_post"),
      round(col("tq"), 6).as("mean_treated_pre"),
      round(col("cp"), 6).as("mean_control_post"),
      round(col("cq"), 6).as("mean_control_pre"),
      round((col("tp") - col("tq")) - (col("cp") - col("cq")), 6).as("did"))
  }

  /** #19w rich-club coefficient of the co-purchase graph — do
    * high-degree hubs preferentially interconnect? For each degree
    * threshold k, the density among nodes of degree ≥ k against the
    * full graph's density, as an exact integer-over-integer ratio in
    * basis points. Rising φ(k) with k = a rich club; the hub-
    * interconnection readout assortativity (one global correlation)
    * can wash out. */
  def graphRichclub(s: SparkSession, dir: String): DataFrame = {
    val p = OpsQueries.coocPairs(s, dir)
      .select(col("item_a").as("a"), col("item_b").as("b"))
      .transform(Tables.checkpoint)
    val sym = p.unionAll(p.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy("a").agg(count(lit(1)).as("deg"))
    val degB = deg.select(col("a").as("b"), col("deg").as("deg_b"))
    val joined = p.join(deg, "a").join(degB, "b")
    val ks = Seq(2L, 4L, 8L)
    val eCols = ks.map(k => sum(when(col("deg") >= k && col("deg_b") >= k, 1L)
      .otherwise(0L)).as(s"e$k"))
    val wide = joined.agg(eCols.head, eCols.tail: _*)
    val nodes = deg.agg(
      count(lit(1)).as("n_all"),
      ks.map(k => sum(when(col("deg") >= k, 1L).otherwise(0L)).as(s"n$k")): _*)
    val tot = p.agg(count(lit(1)).as("e_all"))
    val one = wide.crossJoin(broadcast(nodes)).crossJoin(broadcast(tot))
    val stackArgs = ks.map(k => s"${k}L, n$k, e$k").mkString(", ")
    one.select(col("e_all"), col("n_all"),
        expr(s"stack(${ks.length}, $stackArgs) as (k, n_rich, e_rich)"))
      .withColumn("phi_bp", expr(
        "CASE WHEN n_rich >= 2 THEN e_rich * 2 * 10000 div (n_rich * (n_rich - 1)) END"))
      .withColumn("density_all_bp", expr(
        "CASE WHEN n_all >= 2 THEN e_all * 2 * 10000 div (n_all * (n_all - 1)) END"))
      .select("k", "n_rich", "e_rich", "phi_bp", "density_all_bp")
      .orderBy("k")
  }

  /** #5k'' Wald SPRT early-stopping replay — the sequential A/B
    * readout `ab_ttest`'s fixed-horizon test can't give: walking arm
    * B's conversions (value > 50) in arrival order, the cumulative
    * log-likelihood ratio for H₁: p = 0.55 vs H₀: p = 0.5 is
    * n₁·ln(1.1) + n₀·ln(0.9), checked against the Wald boundaries
    * ln((1−β)/α), ln(β/(1−α)) at α = β = 0.05. Reports the first
    * crossing (decision + sample number + when) and the final state —
    * i.e. how much earlier the experiment could have stopped. LLRs
    * round to 9dp before the boundary compare so both engines agree
    * bit-for-bit. */
  def abSprt(s: SparkSession, dir: String): DataFrame = {
    // Arm B = the same multiplicative-hash split ab_ttest uses.
    val arm = Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .filter(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L) + lit(13L),
        lit(1000000L)) >= 500000L)
      .withColumn("x", when(col("value") > 50.0, 1L).otherwise(0L))
    // Arrival-order walk via bucketed order stats: exact global rank t
    // and the inclusive running conversion count n1, with every window
    // bounded to one quantile bucket (the prior two global
    // Window.orderBy passes each sorted the whole arm in one task).
    val walked = graft.ops.ChronoSplit
      .withOrderStats(arm, "ts_us", "event_id", sumCols = Seq("x"))
      .withColumnRenamed(graft.ops.ChronoSplit.RankCol, "t")
      .withColumn("n1", col(graft.ops.ChronoSplit.cumCol("x")))
      .withColumn("llr", round(col("n1") * log(lit(1.1))
        + (col("t") - col("n1")) * log(lit(0.9)), 9))
      .withColumn("hi", round(log((lit(1.0) - 0.05) / 0.05), 9))
      .withColumn("lo", round(log(lit(0.05) / (lit(1.0) - 0.05)), 9))
      .withColumn("crossed",
        when(col("llr") >= col("hi"), "accept_h1")
          .when(col("llr") <= col("lo"), "accept_h0"))
    val first = walked.filter(col("crossed").isNotNull)
      .agg(min(struct(col("t"), col("ts_us"), col("crossed"), col("llr"))).as("f"))
      .select(col("f.t").as("decision_n"), col("f.ts_us").as("decision_ts_us"),
        col("f.crossed").as("decision"), col("f.llr").as("llr_at_decision"))
    val last = walked.agg(max("t").as("n_total"),
      max(struct(col("t"), col("llr"))).as("l"))
      .select(col("n_total"), col("l.llr").as("final_llr"))
    first.crossJoin(broadcast(last))
  }

  /** #5z' overdispersion screen on hourly event counts — the
    * index-of-dispersion (variance/mean) per type with the chi-square
    * form (n−1)·D that tests the Poisson hypothesis: bursty arrival
    * processes (D ≫ 1) break every model that assumed independent
    * arrivals (rate z-scores, Poisson CIs), so this is the
    * check-before-model gate. */
  def eventsDispersion(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_idx"))
      .agg(count(lit(1)).as("n"))
    hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        round(avg("n"), 6).as("mean_rate"),
        round(var_pop("n"), 6).as("var_rate"),
        round(var_pop("n") / avg("n"), 6).as("dispersion"),
        round((count(lit(1)) - 1) * var_pop("n") / avg("n"), 6).as("chi2"))
      .orderBy("event_type")
  }

  /** #5z Simpson's-paradox screen — the aggregation lint: the overall
    * discount→quantity regression slope against the per-brand slopes,
    * flagging brands whose (6dp-rounded) slope sign OPPOSES the
    * aggregate's. A flipped segment means any conclusion drawn from
    * the pooled slope silently reverses inside that stratum — the
    * classic trap of reporting one regression over heterogeneous
    * groups. */
  def simpsonCheck(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
    val overall = li.agg(
      round(regr_slope(col("l_quantity"), col("l_discount")), 6).as("slope_all"))
    li.groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        round(regr_slope(col("l_quantity"), col("l_discount")), 6).as("slope"))
      .crossJoin(broadcast(overall))
      .select(col("p_brand"), col("n"), col("slope"), col("slope_all"),
        (col("slope") * col("slope_all") < 0).as("sign_flip"))
      .orderBy("p_brand")
  }

  /** #5y Kaplan-Meier survival curve of user lifetimes — the censored
    * estimator a naive average-lifetime misstates: users still active
    * in the corpus's final day are CENSORED (their lifetime is a lower
    * bound), so each death day contributes the conditional factor
    * (1 − d/n) over its at-risk set instead of a raw mean. Lifetimes
    * are integer days; the survival product rides exp(Σ ln(1−d/n))
    * over the (tiny) death-day grid. */
  def survivalKm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val horizon = ev.agg(max("ts_us").as("h_end"))
    val life = ev.groupBy("user_id")
      .agg(min("ts_us").as("first_us"), max("ts_us").as("last_us"))
      .crossJoin(broadcast(horizon))
      .withColumn("k", expr("(last_us - first_us) div 86400000000"))
      .withColumn("censored", col("last_us") >= col("h_end") - 86400000000L)
    val deaths = life.filter(!col("censored"))
      .groupBy("k").agg(count(lit(1)).as("d"))
    val atRisk = life.crossJoin(broadcast(deaths.select(col("k").as("gk"))))
      .filter(col("k") >= col("gk"))
      .groupBy(col("gk").as("k")).agg(count(lit(1)).as("n_risk"))
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    deaths.join(atRisk, "k")
      .withColumn("lnq", log(lit(1.0) - col("d") / col("n_risk").cast("double")))
      .withColumn("survival", round(exp(sum("lnq").over(w)), 6))
      .select(col("k").as("day"), col("n_risk"), col("d").as("d_events"),
        col("survival"))
      .orderBy("day")
  }

  /** #19aa double-sweep BFS diameter lower bound of the co-purchase
    * graph (Magnien et al.'s classic heuristic): BFS from the minimum
    * vertex, re-BFS from the farthest vertex found — that second
    * eccentricity is the standard tight diameter lower bound, here
    * exact within the 4-hop horizon. Both sweeps are the fixed-
    * iteration frontier-join [[graft.ops.Bfs]]; driver state is two
    * single-row picks. */
  def graphDiameter(s: SparkSession, dir: String): DataFrame = {
    val p = OpsQueries.coocPairs(s, dir)
      .select(col("item_a").as("s"), col("item_b").as("t"))
    val edges = p.unionAll(p.select(col("t").as("s"), col("s").as("t")))
      .transform(Tables.checkpoint)
    val startRow = edges.agg(min("s")).head
    if (startRow.isNullAt(0)) {
      // No edges at all (degenerate corpus): empty result, same schema.
      return s.range(0).select(col("id").as("start_v"),
        col("id").as("peripheral_v"), col("id").as("ecc_lower"),
        col("id").as("n_reach_1"), col("id").as("n_reach_2"))
    }
    val start = startRow.getLong(0)
    val d1 = graft.ops.Bfs.distances(edges, "s", "t", start, 4)
    val far = d1.orderBy(col("dist").desc, col("v")).head
    val u = far.getLong(0)
    val d2 = graft.ops.Bfs.distances(edges, "s", "t", u, 4)
    val r1 = d1.agg(count(lit(1)).as("n_reach_1"))
    d2.agg(max("dist").as("ecc_lower"), count(lit(1)).as("n_reach_2"))
      .crossJoin(broadcast(r1))
      .select(lit(start).as("start_v"), lit(u).as("peripheral_v"),
        col("ecc_lower"), col("n_reach_1"), col("n_reach_2"))
  }

  /** #5ac Kruskal-Wallis H across event types — the k-sample extension
    * of [[graft.queries.OpsQueries.eventsMannWhitney]]: one rank-based
    * test of "do any of the k value distributions differ", with the
    * standard tie correction. Rank bookkeeping is EXACT integers:
    * per distinct value, t rows share average rank lt + (t+1)/2 (lt =
    * count of strictly smaller rows), so twice each group's rank sum
    * is Σ ng·(2·lt + t + 1) — an integer. The squared-deviation term
    * n_g·(r̄_g − (N+1)/2)² = D²/(4n_g) with integer D = 2S_g − n_g(N+1)
    * is rounded to MICRO units into DECIMAL(38,0)/HUGEINT before the
    * k-term sum (round-then-sum: both engines add identical integers;
    * whole-unit rounding was measurably wrong at small samples —
    * [[graft.queries.EdgeBranchSpec]] caught 4.166667 vs the textbook
    * 4.138889 on an 8-row fixture). Because the
    * deviation terms are already CENTERED, H = 12·Σ/(N(N+1)) directly —
    * the textbook −3(N+1) correction belongs only to the uncentered
    * ΣS_g²/n_g form (small-sample value pinned in
    * [[graft.queries.EdgeBranchSpec]]). The global rank
    * runs over the DISTINCT-value table through ChronoSplit's bucketed
    * order stats — no unpartitioned window anywhere. */
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val tv = ev.groupBy("value").agg(count(lit(1)).as("t"))
    val rk = graft.ops.ChronoSplit
      .withOrderStats(tv, "value", "value", sumCols = Seq("t"), withRank = false)
      .select(col("value"), col("t"),
        (col(graft.ops.ChronoSplit.cumCol("t")) - col("t")).as("lt"))
    val cells = ev.groupBy("event_type", "value").agg(count(lit(1)).as("ng"))
    val g = cells.join(rk, "value")
      .groupBy("event_type")
      .agg(sum("ng").as("n_g"),
        sum(col("ng") * (lit(2L) * col("lt") + col("t") + lit(1L))).as("s2"))
    val tot = rk.agg(sum("t").as("nn"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
    g.crossJoin(broadcast(tot))
      .withColumn("dd", (col("s2") - col("n_g") * (col("nn") + 1)).cast("double"))
      .withColumn("dterm", expr(
        "cast(round(dd * dd / (4.0 * n_g) * 1e6) as decimal(38,0))"))
      .groupBy("nn", "tie3")
      .agg(count(lit(1)).as("k"), sum("dterm").as("ssum"))
      .withColumn("h", lit(12.0) * col("ssum").cast("double") / 1e6
        / (col("nn").cast("double") * (col("nn") + 1)))
      .withColumn("cf", lit(1.0) - col("tie3").cast("double")
        / (col("nn").cast("double") * col("nn") * col("nn") - col("nn")))
      .select(col("nn").as("n"), col("k"),
        round(col("h"), 6).as("h"),
        round(col("h") / col("cf"), 6).as("h_adj"))
  }

  /** #5ac-4 Dunn's post-hoc pairwise test after [[kruskalWallis]] —
    * WHICH event types differ once KW says "some do". Shares KW's
    * exact integer rank bookkeeping (2·rank-sum per group over the
    * bucketed distinct-value order stats); each pair's
    * z = (r̄ᵢ − r̄ⱼ) / √((N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/nᵢ + 1/nⱼ))
    * (Dunn 1964, tie-corrected) is one double chain over the exact
    * aggregates. The Bonferroni gate reuses the pinned Lin p
    * approximation on the 6dp-rounded |z| (p·m ≤ 0.05 compares the
    * 9dp-rounded p — both engines agree bit-for-bit). The pair join is
    * k², post-aggregate — catalog-bounded, never raw rows.
    * Golden-pinned in [[graft.queries.EdgeBranchSpec]]. */
  def kwDunn(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val tv = ev.groupBy("value").agg(count(lit(1)).as("t"))
    val rk = graft.ops.ChronoSplit
      .withOrderStats(tv, "value", "value", sumCols = Seq("t"), withRank = false)
      .select(col("value"), col("t"),
        (col(graft.ops.ChronoSplit.cumCol("t")) - col("t")).as("lt"))
    val cells = ev.groupBy("event_type", "value").agg(count(lit(1)).as("ng"))
    val g = cells.join(rk, "value")
      .groupBy("event_type")
      .agg(sum("ng").as("n_g"),
        sum(col("ng") * (lit(2L) * col("lt") + col("t") + lit(1L))).as("s2"))
    val tot = rk.agg(sum("t").as("nn"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
    val km = g.agg(count(lit(1)).as("k"))
      .select(col("k"), expr("k * (k - 1) div 2").as("m"))
    val a = g.select(col("event_type").as("type_a"), col("n_g").as("n_a"),
      col("s2").as("s2a"))
    val b = g.select(col("event_type").as("type_b"), col("n_g").as("n_b"),
      col("s2").as("s2b"))
    a.join(b, col("type_a") < col("type_b"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(km))
      .withColumn("zr", expr(
        """case when cast(nn as double)*(nn + 1)/12 - tie3/(12e0*(nn - 1)) > 0
          then (s2a/(2e0*n_a) - s2b/(2e0*n_b))
            / sqrt((cast(nn as double)*(nn + 1)/12 - tie3/(12e0*(nn - 1)))
              * (1e0/n_a + 1e0/n_b)) end"""))
      .withColumn("z", round(col("zr"), 6))
      .withColumn("p", expr(
        "round(exp(-0.717*abs(z) - 0.416*z*z), 9)"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("z"), col("p"), (col("p") * col("m") <= 0.05).as("significant"))
      .orderBy("type_a", "type_b")
  }

  /** #5ac-5 Durbin-Watson first-order autocorrelation screen on the
    * hourly count series per type — the regression-residual lag-1
    * statistic (here on the mean-only model, where residual
    * differences equal raw differences):
    * d = Σ(xₜ − xₜ₋₁)² / Σ(xₜ − x̄)², d ≈ 2(1 − r₁), d < 2 means
    * positive autocorrelation. Both sums are EXACT integers
    * (numerator directly; denominator as the (n·Σx² − S²)/n moment),
    * so d = num·n/(n·Σx² − S²) is one exact-rational double. The lag
    * runs per type over the post-aggregate hourly series.
    * Golden-pinned in [[graft.queries.EdgeBranchSpec]]. */
  def eventsDurbinWatson(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val diffed = hourly
      .withColumn("px", lag("x", 1).over(w))
      .withColumn("d2", when(col("px").isNotNull,
        (col("x") - col("px")) * (col("x") - col("px"))).otherwise(0L))
    diffed.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum("d2").as("num"))
      .select(col("event_type"), col("n").as("n_hours"),
        expr("""case when cast(n as decimal(38,0))*sxx - cast(sx as decimal(38,0))*sx <> 0
          then round(cast(num as double)*n
            / cast(cast(n as decimal(38,0))*sxx - cast(sx as decimal(38,0))*sx as double), 6)
          end""").as("dw"))
      .orderBy("event_type")
  }

  /** #5ae-4 Tukey HSD pairwise contrasts after [[eventsAnova]] — the
    * parametric post-hoc that says WHICH type means differ: the
    * studentized-range statistic q = (x̄ᵢ − x̄ⱼ)/√(MSW/2·(1/nᵢ + 1/nⱼ))
    * (Tukey-Kramer for unequal n). MSW comes from the SAME exact
    * integer milli-unit moments as the omnibus F (round-then-sum
    * correction terms); each pair's q is one double chain over exact
    * aggregates, compared against the pinned q₀.₀₅ critical value for
    * k = 5, df ≈ ∞ (3.858) — the flag is a screen, not a table lookup.
    * The pair join is k² post-aggregate rows.
    * Golden-pinned in [[graft.queries.EdgeBranchSpec]]. */
  def anovaTukey(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.events(s, dir)
      .select(col("event_type"), round(col("value") * 1000, 0).cast("long").as("v"))
    val g = v.groupBy("event_type")
      .agg(count(lit(1)).as("n_i"), sum("v").as("s_i"),
        sum(expr("cast(v as decimal(38,0)) * v")).as("ssq_i"))
      .withColumn("gterm",
        expr("cast(round(cast(s_i as double)*cast(s_i as double)/n_i, 0) as bigint)"))
    val tot = g.agg(count(lit(1)).as("k"), sum("n_i").as("n"),
      sum("ssq_i").as("ssq"), sum("gterm").as("gsum"))
    val a = g.select(col("event_type").as("type_a"), col("n_i").as("n_a"),
      col("s_i").as("s_a"))
    val b = g.select(col("event_type").as("type_b"), col("n_i").as("n_b"),
      col("s_i").as("s_b"))
    a.join(b, col("type_a") < col("type_b"))
      .crossJoin(broadcast(tot))
      .withColumn("msw", expr("cast(ssq - gsum as double)/(n - k)"))
      .withColumn("q", expr(
        """case when n > k and ssq > gsum then
          round((cast(s_a as double)/n_a - cast(s_b as double)/n_b)
            / sqrt(msw/2*(1e0/n_a + 1e0/n_b)), 6) end"""))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        expr("round((cast(s_a as double)/n_a - cast(s_b as double)/n_b)/1e3, 6)")
          .as("mean_diff"),
        col("q"), (abs(col("q")) > 3.858).as("significant"))
      .orderBy("type_a", "type_b")
  }

  /** #5t'' Cliff's delta / rank-biserial effect size of the A/B split —
    * HOW MUCH the arms differ once
    * [[graft.queries.OpsQueries.eventsMannWhitney]] says they do:
    * δ = (#(b>a) − #(b<a))/(n_a·n_b) = (2U_b − n_a·n_b)/(n_a·n_b),
    * assembled from the SAME exact doubled-midrank bookkeeping (ties
    * contribute ½ to U, cancelling in δ). 2U_b = ΣR₂(b) − n_b(n_b+1)
    * stays integral; δ and the common-language effect size
    * P(b>a) + ½P(b=a) = (δ+1)/2 each divide once at display, with the
    * conventional |δ| bands (negligible < .147 < small < .33 < medium
    * < .474 < large) as a round-then-compare label.
    * Golden-pinned in [[graft.queries.EdgeBranchSpec]]. */
  def abCliffsDelta(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L))
      .select("event_type", "variant", "value")
    val ranked = ev
      .withColumn("rnk", rank().over(
        Window.partitionBy("event_type").orderBy("value")).cast("long"))
      .withColumn("tcnt", count(lit(1)).over(
        Window.partitionBy("event_type", "value")))
      .withColumn("r2", lit(2L) * col("rnk") + col("tcnt") - lit(1L))
    val g = ranked.groupBy("event_type", "variant")
      .agg(count(lit(1)).as("n"), sum("r2").as("r2sum"))
    val a = g.filter(col("variant") === 0)
      .select(col("event_type"), col("n").as("n_a"))
    val b = g.filter(col("variant") === 1)
      .select(col("event_type"), col("n").as("n_b"), col("r2sum").as("r2_b"))
    a.join(b, "event_type")
      .withColumn("u2b", col("r2_b") - col("n_b") * (col("n_b") + 1)) // 2·U_b
      .withColumn("delta", expr(
        "round(cast(u2b - n_a*n_b as double)/(cast(n_a as double)*n_b), 6)"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("delta"),
        expr("round((cast(u2b - n_a*n_b as double)/(cast(n_a as double)*n_b) + 1)/2, 6)")
          .as("cles"),
        expr("""case when abs(delta) < 0.147 then 'negligible'
          when abs(delta) < 0.33 then 'small'
          when abs(delta) < 0.474 then 'medium'
          else 'large' end""").as("magnitude"))
      .orderBy("event_type")
  }

  /** #5j' Page–Hinkley sequential drift detector on the hourly count
    * series per type — the streaming-world changepoint alarm next to
    * [[graft.queries.OpsQueries.eventsCusum]]'s batch CUSUM: the
    * cumulative deviation from the RUNNING mean, minus its running
    * minimum (PH_t = m_t − min_{i≤t} m_i with
    * m_t = Σᵢ(xᵢ − x̄ᵢ)). Each deviation (i·xᵢ − Sᵢ)/i is an exact
    * rational rounded to nano units BEFORE the cumulative sum, so the
    * walk is exact integer nano state; the argmax hour is elected by
    * (PH desc, hour asc) over integers (round-then-rank) and the alarm
    * compares integers against the pinned λ = 5 count-units. Windows
    * run per type over the post-aggregate hourly series.
    * Golden-pinned in [[graft.queries.EdgeBranchSpec]]. */
  def eventsPageHinkley(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val wc = w.rowsBetween(Window.unboundedPreceding, 0)
    val walked = hourly
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("sx", sum("x").over(wc))
      .withColumn("term_n",
        expr("cast(round((t*x - sx)/cast(t as double)*1e9) as bigint)"))
      .withColumn("m", sum("term_n").over(wc))
      .withColumn("runmin", min("m").over(wc))
      .withColumn("ph", col("m") - col("runmin"))
    walked.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), max("ph").as("ph_n"),
        max(struct(col("ph"), (-col("h")).as("nh"))).as("pk"))
      .select(col("event_type"), col("n_hours"),
        round(col("ph_n") / 1e9, 6).as("ph_max"),
        (-col("pk.nh")).as("ph_argmax_h"),
        (col("ph_n") > 5000000000L).as("alarm"))
      .orderBy("event_type")
  }

  /** #5t' Wilcoxon signed-rank test of the hour-of-day activity
    * profile, first corpus day vs last — the PAIRED companion to
    * [[graft.queries.OpsQueries.eventsMannWhitney]]'s independent-
    * samples test (each hour-of-day is its own control, so day-shape
    * differences don't drown in between-hour variance). Textbook
    * discard-zeros convention; midranks of |d| ride the exact doubled
    * integer 2r + t − 1; 2W⁺ stays integral until the single z
    * division with the tie-corrected variance
    * n(n+1)(2n+1)/24 − Σ(t³−t)/48. The rank window runs over ≤ 24
    * post-aggregate cells. Golden-pinned in
    * [[graft.queries.EdgeBranchSpec]]. */
  def eventsWilcoxon(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      expr("unix_micros(ts) div 86400000000").as("day"),
      expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
    val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"))
    val cells = ev.crossJoin(broadcast(bounds))
      .filter(col("day") === col("d0") || col("day") === col("d1"))
      .groupBy("hod")
      .agg(sum(when(col("day") === col("d0"), 1L).otherwise(0L)).as("x"),
        sum(when(col("day") === col("d1"), 1L).otherwise(0L)).as("y"))
    val dz = cells.withColumn("d", col("y") - col("x"))
      .filter(col("d") =!= 0L)
      .withColumn("ad", abs(col("d")))
    val ranked = dz
      .withColumn("rnk", rank().over(Window.orderBy("ad")).cast("long"))
      .withColumn("tcnt", count(lit(1)).over(Window.partitionBy("ad")))
      .withColumn("r2", lit(2L) * col("rnk") + col("tcnt") - lit(1L))
    val ties = dz.groupBy("ad").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")), lit(0L))
        .as("tie3"))
    ranked.agg(count(lit(1)).as("n"),
        sum(when(col("d") > 0, col("r2")).otherwise(0L)).as("w2p"))
      .crossJoin(broadcast(ties))
      .select(col("n").as("n_pairs"),
        round(col("w2p") / 2e0, 1).as("w_plus"),
        expr("""case when n >= 2
            and (cast(n as double)*(n+1)*(2*n+1)/24 - tie3/48e0) > 0
          then round((w2p - cast(n as double)*(n+1)/2)
            / (2*sqrt(cast(n as double)*(n+1)*(2*n+1)/24 - tie3/48e0)), 6)
          end""").as("z"))
  }

  /** #37o Cramér's V association between event type and day-of-week —
    * the normalized [0,1] effect size on top of the chi-square
    * machinery (`corpus_chi2` reports raw χ²; V answers "how strong",
    * comparable across table shapes). The full r×c grid (absent cells
    * included at O=0) is built from the two margin tables, each cell's
    * χ² term (N·O − R·C)²/(N·R·C) is rounded to integer MICRO-units
    * before the 35-term sum, and V = √(χ²/(N·(min(r,c)−1))). All
    * inputs to the float expression are exact integer aggregates. */
  def cramersV(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"))
    val obs = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rm = ev.groupBy("event_type").agg(count(lit(1)).as("r"))
    val cm = ev.groupBy("dow").agg(count(lit(1)).as("c"))
    val n = ev.agg(count(lit(1)).as("nn"),
      countDistinct("event_type").as("nr"), countDistinct("dow").as("nc"))
    rm.crossJoin(cm)
      .join(obs, Seq("event_type", "dow"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("num", (col("nn") * col("o") - col("r") * col("c")).cast("double"))
      .withColumn("term", round(col("num") * col("num") * lit(1000000.0)
        / (col("nn").cast("double") * col("r") * col("c"))).cast("long"))
      .groupBy("nn", "nr", "nc")
      .agg(count(lit(1)).as("n_cells"), sum("term").as("chi2u"))
      .select(col("nn").as("n"), col("n_cells"),
        round(col("chi2u") / lit(1000000.0), 6).as("chi2"),
        round(sqrt(col("chi2u") / lit(1000000.0)
          / (col("nn").cast("double") * (least(col("nr"), col("nc")) - 1))), 6).as("v"))
  }

  /** #5ad McNemar's test on paired quality gates — do the length gate
    * (n_chars ≥ 250) and the token gate (≥ 40 [a-z]+ tokens) disagree
    * symmetrically on the SAME documents? The paired-binary design
    * (each doc is its own control) only the discordant cells inform:
    * χ² = (max(|b−c|−1, 0))²/(b+c) with Edwards' continuity
    * correction, exact integers until the single division. The
    * gate-comparison readout for swapping one corpus filter for
    * another; null χ² when the gates never disagree. */
  def mcnemarGates(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("ga", (col("n_chars") >= 250).cast("long"))
      .withColumn("gb",
        (size(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))) >= 40)
          .cast("long"))
    d.agg(
        sum(col("ga") * col("gb")).as("both_pass"),
        sum(col("ga") * (lit(1L) - col("gb"))).as("only_len"),
        sum((lit(1L) - col("ga")) * col("gb")).as("only_tok"),
        sum((lit(1L) - col("ga")) * (lit(1L) - col("gb"))).as("neither"))
      .withColumn("chi2",
        when(col("only_len") + col("only_tok") === 0, lit(null).cast("double"))
          .otherwise(round(
            greatest(abs(col("only_len") - col("only_tok")) - 1, lit(0L))
              .cast("double")
              * greatest(abs(col("only_len") - col("only_tok")) - 1, lit(0L))
              / (col("only_len") + col("only_tok")), 6)))
  }

  /** #5ae Cochran-Armitage trend test — is the purchase share
    * MONOTONICALLY trending across the ordered hour-of-day exposure
    * (scores 0..23)? Sharper than the omnibus χ² when the alternative
    * is ordered. Everything reduces to five exact integer aggregates
    * (N, R, Σsn, Σsr, Σs²n) in ONE scan, and the z-score
    * (N·Σsr − R·Σsn)·√N / √(R(N−R)(N·Σs²n − (Σsn)²)) is a single
    * pinned float expression over them (the big triple product runs in
    * doubles — identical literals, identical association order on both
    * engines). Null z on a degenerate margin. */
  def cochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(expr("(unix_micros(ts) div 3600000000) % 24").as("sc"),
        (col("event_type") === "purchase").cast("long").as("y"))
    ev.agg(count(lit(1)).as("nn"), sum("y").as("rr"),
        sum(col("sc")).as("sn"), sum(col("sc") * col("y")).as("sr"),
        sum(col("sc") * col("sc")).as("s2n"))
      .withColumn("num", (col("nn") * col("sr") - col("rr") * col("sn")).cast("double"))
      .withColumn("z",
        when(col("rr") === 0 || col("rr") === col("nn"), lit(null).cast("double"))
          .otherwise(round(col("num") * sqrt(col("nn").cast("double"))
            / sqrt(col("rr").cast("double") * (col("nn") - col("rr")).cast("double")
              * (col("nn") * col("s2n") - col("sn") * col("sn")).cast("double")), 6)))
      .select(col("nn").as("n"), col("rr").as("n_success"), col("z"))
  }

  /** #5s' 7-point moving median of the hourly volume series per type —
    * the robust smoother next to `events_ewma` (a single spike moves
    * the mean but not the median). The window materializes its 7
    * observed points as a sorted array and picks the exact middle
    * (half-integers are exact in binary), so there is no float path at
    * all; it runs over the bounded post-aggregate hourly series,
    * partitioned by type. */
  def eventsMovingMedian(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .withColumn("h", expr("unix_micros(ts) div 3600000000"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-3, 3)
    hourly
      .withColumn("arr", sort_array(collect_list("c").over(w)))
      .withColumn("m", size(col("arr")))
      .withColumn("med7",
        when(col("m") % 2 === 1,
          element_at(col("arr"), ((col("m") + 1) / 2).cast("int")).cast("double"))
          .otherwise((element_at(col("arr"), (col("m") / 2).cast("int"))
            + element_at(col("arr"), (col("m") / 2 + 1).cast("int"))) / 2.0))
      .select(col("event_type"), col("h"), col("c"), col("med7"))
      .orderBy("event_type", "h")
  }

  /** #5d''' entropy rate of the user behavior chain — how predictable
    * the next event is given the current one, the single-number
    * readout over `events_markov`'s transition profile:
    * H = −(1/N)·Σᵢⱼ nᵢⱼ·ln(nᵢⱼ/nᵢ), reported with the ln(k) ceiling
    * and the efficiency ratio. Each transition's term rounds to
    * integer ppb-scale BEFORE the sum (round-then-sum); all counts are
    * exact integers. */
  def eventsEntropyRate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val trans = Tables.events(s, dir)
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("nij"))
    val fromTot = trans.groupBy("from_type").agg(sum("nij").as("ni"))
    val k = trans.select(col("from_type")).distinct()
      .agg(count(lit(1)).as("n_states"))
    trans.join(fromTot, "from_type")
      .withColumn("term_n", round(col("nij")
        * log(col("nij") / col("ni").cast("double")) * 1000000000.0, 0)
        .cast("long"))
      .agg(sum("nij").as("n_transitions"), sum("term_n").as("st"))
      .crossJoin(broadcast(k))
      .select(col("n_transitions"), col("n_states"),
        round(-col("st") / 1000000000.0 / col("n_transitions"), 6)
          .as("entropy_rate"),
        round(log(col("n_states").cast("double")), 6).as("max_entropy"),
        when(col("n_states") > 1,
          round((-col("st") / 1000000000.0 / col("n_transitions"))
            / log(col("n_states").cast("double")), 6)).as("efficiency"))
  }

  /** #5z''''' Cochran-Mantel-Haenszel pooled odds ratio of purchase by
    * hash arm, stratified by day — the day-adjusted effect next to the
    * Simpson's-paradox screen: OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ). The
    * 2×2 cells are exact integers per stratum; each stratum's term
    * rounds to integer ppb BEFORE its sum (round-then-sum), and the
    * crude (unstratified) OR rides along so confounding shows as
    * crude ≠ pooled. One scan, one |days|-sized aggregate. */
  def eventsCmh(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"),
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 1L).otherwise(0L).as("exposed"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy("day")
      .agg(sum(when(col("exposed") === 1L && col("y") === 1L, 1L).otherwise(0L)).as("a"),
        sum(when(col("exposed") === 1L && col("y") === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(col("exposed") === 0L && col("y") === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(col("exposed") === 0L && col("y") === 0L, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
    cells.agg(count(lit(1)).as("n_strata"),
        sum(round(col("a") * col("d") / col("n") * 1000000000.0, 0)
          .cast("long")).as("num_ppb"),
        sum(round(col("b") * col("c") / col("n") * 1000000000.0, 0)
          .cast("long")).as("den_ppb"),
        sum("a").as("ta"), sum("b").as("tb"), sum("c").as("tc"),
        sum("d").as("td"))
      .select(col("n_strata"),
        when(col("den_ppb") =!= 0,
          round(col("num_ppb") / col("den_ppb").cast("double"), 6)).as("or_mh"),
        when(col("tb") * col("tc") =!= 0,
          round(col("ta") * col("td") / (col("tb") * col("tc")).cast("double"), 6))
          .as("or_crude"))
  }

  /** #52'' range-partition plan for a global sort on order value — the
    * exact version of the boundary sampling Spark's RangePartitioner
    * does: 32 balanced range buckets over exact integer cents with the
    * (cents, orderkey) tie-broken exact ntile (bucketed order stats,
    * never a one-task sort), reporting each bucket's row count, value
    * bounds, and share in integer basis points. The boundary list IS
    * what you'd feed a repartitionByRange at 100 TB; the share column
    * is the balance certificate. */
  def rangePartitionPlan(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChronoSplit
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val tot = o.agg(count(lit(1)).as("n_tot"))
    ChronoSplit.withNtile(o, "cents", "o_orderkey", 32, "pid")
      .groupBy("pid")
      .agg(count(lit(1)).as("n_rows"), min("cents").as("lo_cents"),
        max("cents").as("hi_cents"))
      .crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("n_rows * 10000 div n_tot"))
      .drop("n_tot")
      .orderBy("pid")
  }

  /** #4h'' exact Gini coefficient of per-customer revenue — the
    * single-number inequality readout whose decile approximation is
    * `revenue_lorenz`: G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) over
    * cents ranked by (cents, custkey). Ranks come from the bucketed
    * order stats (no one-task sort of the customer table); the rank-
    * weighted sum accumulates in DECIMAL(38,0) so it cannot overflow
    * at web-scale entity counts; one double division at display. */
  def revenueGini(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChronoSplit
    val dec = DecimalType(38, 0)
    val cust = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
    ChronoSplit.withOrderStats(cust, "cents", "o_custkey")
      .agg(count(lit(1)).as("n"), sum("cents").as("sx"),
        sum(col(ChronoSplit.RankCol).cast(dec) * col("cents")).as("sixi"))
      .select(col("n").as("n_customers"), col("sx").as("total_cents"),
        round((lit(2L) * col("sixi") - (col("n") + lit(1L)) * col("sx").cast(dec))
          .cast("double")
          / (col("n").cast(dec) * col("sx")).cast("double"), 6).as("gini"))
  }

  /** #5k'''' exact permutation test for the A/B mean difference (the
    * assumption-free companion to `ab_ttest`'s Welch readout): 64
    * deterministic USER-level sign-flip replicates (md5-free integer
    * hash per (user, j), preserving within-user correlation), p =
    * (1 + #{|d_j| ≥ |d_obs|}) / 65. Every comparison is exact integer
    * arithmetic — d = (s_A·n_B − s_B·n_A)/(n_A·n_B) compares
    * cross-multiplied in DECIMAL(38,0), so no float ever enters the
    * decision. Scale: one 64× flat-map + one grouped agg. */
  def abPermutation(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = Tables.events(s, dir).select(
        col("user_id"),
        round(col("value") * 1000000, 0).cast("long").as("v"))
      .withColumn("arm0",
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L))
    val o = base.agg(
      sum(when(col("arm0") === 0L, col("v")).otherwise(0L)).as("sa0"),
      sum(when(col("arm0") === 0L, 1L).otherwise(0L)).as("na0"),
      sum(when(col("arm0") === 1L, col("v")).otherwise(0L)).as("sb0"),
      sum(when(col("arm0") === 1L, 1L).otherwise(0L)).as("nb0"))
    val reps = base
      .withColumn("j", explode(sequence(lit(1L), lit(64L))))
      .withColumn("arm", pmod(col("arm0") +
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + col("j") * lit(7919L), lit(1000000L)) < 500000L, 1L)
          .otherwise(0L), lit(2L)))
      .groupBy("j")
      .agg(sum(when(col("arm") === 0L, col("v")).otherwise(0L)).as("sa"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 1L, col("v")).otherwise(0L)).as("sb"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("nb"))
    reps.crossJoin(broadcast(o))
      .withColumn("aj",
        col("sa").cast(dec) * col("nb") - col("sb").cast(dec) * col("na"))
      .withColumn("a0",
        col("sa0").cast(dec) * col("nb0") - col("sb0").cast(dec) * col("na0"))
      .withColumn("ge", when(
        abs(col("aj")) * (col("na0").cast(dec) * col("nb0"))
          >= abs(col("a0")) * (col("na").cast(dec) * col("nb")), 1L)
        .otherwise(0L))
      .groupBy("na0", "nb0", "a0")
      .agg(sum("ge").as("n_ge"))
      .select(col("na0").as("n_a"), col("nb0").as("n_b"),
        round(col("a0").cast("double")
          / (col("na0") * col("nb0")).cast("double") / lit(1000000.0), 6)
          .as("diff_obs"),
        lit(64L).as("b_reps"), col("n_ge"),
        round((lit(1L) + col("n_ge")) / lit(65.0), 6).as("p_value"))
  }

  /** #1d'''' randomized response (Warner 1965), the local-DP
    * mechanism next to the central-DP `dp_counts`: each event reports
    * its purchase bit truthfully with p = 3/4, else a fair coin — both
    * coins are md5-derived 60-bit draws against EXACT integer
    * thresholds (3·2⁵⁸, 2⁵⁹) — and the unbiased estimator
    * π̂ = (λ − 1/8)/(3/4) is recovered from integer tallies, audited
    * against the true rate the mechanism hides. */
  def dpRandResponse(s: SparkSession, dir: String): DataFrame = {
    val h1 = conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val h2 = conv(substring(
      md5(concat(col("event_id").cast("string"), lit(":rr"))), 1, 15), 16, 10)
      .cast("long")
    Tables.events(s, dir)
      .select(
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
        when(h1 < lit(864691128455135232L), 1L).otherwise(0L).as("truthful"),
        when(h2 < lit(576460752303423488L), 1L).otherwise(0L).as("rand_bit"))
      .withColumn("rep",
        when(col("truthful") === 1L, col("y")).otherwise(col("rand_bit")))
      .agg(count(lit(1)).as("n"), sum("y").as("n_true"),
        sum("rep").as("n_reported"))
      .select(col("n"), col("n_true"), col("n_reported"),
        round(col("n_reported") / col("n"), 6).as("reported_rate"),
        round((col("n_reported") / col("n") - lit(0.125)) / lit(0.75), 6)
          .as("pi_hat"),
        round(col("n_true") / col("n"), 6).as("true_rate"))
  }

  /** #19z HITS hubs-and-authorities on the order→part bipartite
    * incidence (Kleinberg 1999): authority(part) = Σ hub(basket) over
    * baskets containing it, hub(basket) = Σ authority(part) over its
    * parts, three unrolled rounds from hub ≡ 1. UNNORMALIZED, so every
    * score is an exact integer path count (round-k normalization would
    * put a float sum order into the hash); the top-50 authorities by
    * (score, partkey) are the "parts central to central baskets"
    * readout. Each round is one join + grouped sum over the distinct
    * incidence — the join-shuffle-agg shape, no driver graph. */
  def graphHits(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
      // Referenced by all five half-steps of the unrolled HITS chain —
      // materialize the deduped edge list once instead of re-running the
      // distinct per reference.
      .transform(Tables.checkpoint)
    val a1 = b.groupBy("item").agg(count(lit(1)).as("a"))
    val h1 = b.join(a1, "item").groupBy("basket").agg(sum("a").as("h"))
    val a2 = b.join(h1, "basket").groupBy("item").agg(sum("h").as("a"))
    val h2 = b.join(a2, "item").groupBy("basket").agg(sum("a").as("h"))
    val a3 = b.join(h2, "basket").groupBy("item").agg(sum("h").as("a"))
    a3.select(col("item").as("l_partkey"), col("a").as("authority"))
      .orderBy(col("authority").desc, col("l_partkey"))
      .limit(50)
  }

  /** #5y' Nelson-Aalen cumulative hazard over the same censored user
    * lifetimes as [[survivalKm]] — the estimator whose increments
    * d_i/n_i are what a hazard-rate model consumes directly. Each
    * increment rounds to integer parts-per-billion BEFORE the running
    * sum (round-then-sum), so the cumulative hazard is exact integer
    * prefix arithmetic; the window runs over the ≤|days| aggregate. */
  def survivalNa(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val horizon = ev.agg(max("ts_us").as("h_end"))
    val life = ev.groupBy("user_id")
      .agg(min("ts_us").as("first_us"), max("ts_us").as("last_us"))
      .crossJoin(broadcast(horizon))
      .withColumn("k", expr("(last_us - first_us) div 86400000000"))
      .withColumn("censored", col("last_us") >= col("h_end") - 86400000000L)
    val deaths = life.filter(!col("censored"))
      .groupBy("k").agg(count(lit(1)).as("d"))
    val atRisk = life.crossJoin(broadcast(deaths.select(col("k").as("gk"))))
      .filter(col("k") >= col("gk"))
      .groupBy(col("gk").as("k")).agg(count(lit(1)).as("n_risk"))
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    deaths.join(atRisk, "k")
      .withColumn("term_ppb",
        round(col("d") * lit(1000000000.0) / col("n_risk"), 0).cast("long"))
      .withColumn("cum_ppb", sum("term_ppb").over(w))
      .select(col("k").as("day"), col("n_risk"), col("d").as("d_events"),
        round(col("cum_ppb") / lit(1000000000.0), 6).as("cum_hazard"))
      .orderBy("day")
  }

  /** Hourly (view, click) count series — every hour that saw any
    * event, both type counts zero-filled. Shared by [[eventsKendall]]
    * and [[eventsCcf]]; bounded by the time range, not the data size. */
  private def hourlySeries(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("h", expr("unix_micros(ts) div 3600000000"))
      .groupBy("h")
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("b"))

  /** #5e' Kendall tau-b between the hourly view and click count series
    * — the rank correlation that stays exact under ties (Spearman's
    * min-rank version is already in `events_spearman`). Concordant /
    * discordant / tie tallies are exact integer counts over the hour-
    * pair grid (|hours|² pairs of a POST-AGGREGATE series, bounded by
    * the time range); tau divides once at display. */
  def eventsKendall(s: SparkSession, dir: String): DataFrame = {
    val g = hourlySeries(s, dir)
    val x = g.select(col("h").as("h1"), col("a").as("a1"), col("b").as("b1"))
    val y = g.select(col("h").as("h2"), col("a").as("a2"), col("b").as("b2"))
    val cd = x.join(y, col("h1") < col("h2"))
      .agg(count(lit(1)).as("n0"),
        sum(when((col("a1") < col("a2") && col("b1") < col("b2")) ||
          (col("a1") > col("a2") && col("b1") > col("b2")), 1L).otherwise(0L))
          .as("nc"),
        sum(when((col("a1") < col("a2") && col("b1") > col("b2")) ||
          (col("a1") > col("a2") && col("b1") < col("b2")), 1L).otherwise(0L))
          .as("nd"))
    val t1 = g.groupBy("a").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("n1"))
    val t2 = g.groupBy("b").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("n2"))
    val nh = g.agg(count(lit(1)).as("n_hours"))
    cd.crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .crossJoin(broadcast(nh))
      .select(col("n_hours"), col("nc").as("n_conc"), col("nd").as("n_disc"),
        col("n1").as("ties_a"), col("n2").as("ties_b"),
        round((col("nc") - col("nd"))
          / sqrt((col("n0") - col("n1")) * (col("n0") - col("n2"))), 6)
          .as("tau_b"))
  }

  /** #5c' lagged cross-correlation (CCF) of the hourly view series
    * against the click series at lags 0..6 hours — the lead/lag screen
    * behind "does a view surge predict a click surge". Per-lag Pearson
    * r comes from exact integer moments (counts, sums, cross products)
    * of the matched hour pairs; the lag join is an equi-join on
    * h + lag over the bounded post-aggregate series. */
  def eventsCcf(s: SparkSession, dir: String): DataFrame = {
    val g = hourlySeries(s, dir)
    val x = g.select(col("h"), col("a"))
    val y = g.select(col("h").as("hy"), col("b"))
    val lags = s.range(0, 7).select(col("id").as("lag_h"))
    val m = x.crossJoin(broadcast(lags))
      .join(y, col("hy") === col("h") + col("lag_h"))
      .groupBy("lag_h")
      .agg(count(lit(1)).as("n"), sum("a").as("sx"), sum("b").as("sy"),
        sum(col("a") * col("b")).as("sxy"),
        sum(col("a") * col("a")).as("sxx"),
        sum(col("b") * col("b")).as("syy"))
    m.select(col("lag_h"), col("n"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
          col("n") * col("syy") - col("sy") * col("sy") > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6))
          .as("r"))
      .orderBy("lag_h")
  }

  /** #31g Little's law audit (L = λ·W) over gap sessions — two
    * INDEPENDENT derivations of average concurrency that must agree
    * exactly: (a) the sweep-line time-average (+1/−1 at session
    * start/end, counter area over the horizon) and (b) total session
    * duration over the horizon. Equality is exact integer µs·sessions
    * area — a mismatch means the interval algebra (the machinery under
    * `interval_coalesce`/`intersectJoin`) dropped or double-counted a
    * boundary. */
  def littlesLaw(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Sessionize.sessions(
        Tables.events(s, dir), "user_id", "ts", 30L * 60 * 1000000, "event_id")
      .select(col("session_start_us").as("st"), col("session_end_us").as("en"))
    val pts = sess.select(col("st").as("t"), lit(1L).as("delta"))
      .unionAll(sess.select(col("en").as("t"), lit(-1L).as("delta")))
      .groupBy("t").agg(sum("delta").as("delta"))
    val w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    val wl = Window.orderBy("t")
    val area = pts
      .withColumn("cnt", sum("delta").over(w))
      .withColumn("gap", lead("t", 1).over(wl) - col("t"))
      .filter(col("gap").isNotNull)
      .agg(sum(col("cnt") * col("gap")).as("area_us"))
    val tot = sess.agg(count(lit(1)).as("n_sessions"),
      sum(col("en") - col("st")).as("dur_us"),
      (max("en") - min("st")).as("horizon_us"))
    area.crossJoin(broadcast(tot))
      .select(col("n_sessions"), col("area_us"), col("dur_us"), col("horizon_us"),
        (col("area_us") === col("dur_us")).as("l_equals_lambda_w"),
        round(col("area_us") / col("horizon_us").cast("double"), 6)
          .as("avg_concurrency"))
  }

  /** #46d dictionary-encoding advisor — the storage-layout readout a
    * columnar rewrite consults: for each candidate low-cardinality
    * string column, exact NDV and raw byte volume against the
    * dictionary alternative (distinct values once + byte-aligned codes
    * of 1/2/4 bytes by NDV), with the saving in basis points. All
    * integer-exact; each column costs one (pruned) scan of just that
    * column. NULL convention, pinned identically in the oracle: NULLs
    * are excluded from the dictionary and from NDV (columnar formats
    * carry nulls in definition levels, not dictionary slots), so a
    * nullable audited column cannot skew the 1/2/4-byte code-width
    * choice differently per engine. */
  def encodingAdvisor(s: SparkSession, dir: String): DataFrame = {
    def one(table: String, column: String, df: DataFrame): DataFrame = {
      val c = col(column)
      val stats = df.agg(
        count(lit(1)).as("n"),
        sum(octet_length(c)).as("raw_bytes"))
      val dict = df.select(c.as("v")).filter(col("v").isNotNull).distinct()
        .agg(count(lit(1)).as("ndv"), sum(octet_length(col("v"))).as("dict_entry_bytes"))
      stats.crossJoin(broadcast(dict))
        .withColumn("code_bytes",
          when(col("ndv") <= 256, 1L).when(col("ndv") <= 65536, 2L).otherwise(4L))
        .select(lit(table).as("table_name"), lit(column).as("column_name"),
          col("n"), col("ndv"), col("raw_bytes"),
          (col("dict_entry_bytes") + col("n") * col("code_bytes")).as("dict_bytes"))
        // greatest(..., 0): a dictionary that LOSES would make the
        // numerator negative, where Spark's `div` (truncate) and
        // DuckDB's `//` (floor) disagree — clamp instead.
        .withColumn("savings_bp",
          expr("greatest(raw_bytes - dict_bytes, 0L) * 10000 div raw_bytes"))
    }
    Seq(
      one("customer", "c_mktsegment", Tables.customer(s, dir)),
      one("documents", "lang", Tables.documents(s, dir)),
      one("documents", "source", Tables.documents(s, dir)),
      one("lineitem", "l_returnflag", Tables.lineitem(s, dir)),
      one("orders", "o_orderpriority", Tables.orders(s, dir)))
      .reduce(_ unionAll _)
      .orderBy("table_name", "column_name")
  }

  /** #5x multiwindow SLO burn-rate alerts (SRE-workbook policy): per
    * event type and hour, the trailing-1h and trailing-6h error rates
    * (error = value > 95, budget = 5%) as burn-rate multiples, with
    * the two-window AND rule — page at (14.4×, 6×), ticket at
    * (3×, 1.5×) — that suppresses both blips and slow-burn misses.
    * The 6h window is a RANGE frame over the hour index, so calendar
    * gaps count as empty hours instead of stretching the window. The
    * alert booleans compare in exact integer cross-multiplied form
    * (err·100 > 72·n), so no float boundary can disagree. */
  def sloBurn(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .withColumn("hour_idx", expr("unix_micros(ts) div 3600000000"))
      .groupBy("event_type", "hour_idx")
      .agg(count(lit(1)).as("n1"),
        sum(when(col("value") > 95.0, 1L).otherwise(0L)).as("e1"))
    val w6 = Window.partitionBy("event_type").orderBy("hour_idx")
      .rangeBetween(-5, 0)
    hourly
      .withColumn("n6", sum("n1").over(w6))
      .withColumn("e6", sum("e1").over(w6))
      .select(col("event_type"), col("hour_idx"),
        col("n1"), col("e1"), col("n6"), col("e6"),
        round(col("e1") * 20.0 / col("n1"), 6).as("burn_1h"),
        round(col("e6") * 20.0 / col("n6"), 6).as("burn_6h"),
        (col("e1") * 100 > col("n1") * 72 &&
          col("e6") * 10 > col("n6") * 3).as("page"),
        (col("e1") * 20 > col("n1") * 3 &&
          col("e6") * 40 > col("n6") * 3).as("ticket"))
      .orderBy("event_type", "hour_idx")
  }

  /** #16c offline policy evaluation by replay (Li et al. 2011): a
    * follow-the-leader policy — each hour, play the event type whose
    * cumulative CTR (reward = value > 50) through the PREVIOUS hour is
    * highest, smoothed by a Beta(1,1) prior, min-type tiebreak — is
    * evaluated on the log by keeping exactly the events whose logged
    * arm matches the policy's choice. The policy table is the tiny
    * hours × arms grid (cumulative sums over hours), so the only
    * fact-scale work is one join back to the log on (hour, type);
    * unmatched hours (no plays of the chosen arm) surface as rows with
    * n_matched = 0 and replay_ctr = NULL (0 observed trials has no
    * defined rate — the NULL is the honest readout, pinned identically
    * in the oracle) rather than vanishing. */
  def banditReplay(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("hour_idx", expr("unix_micros(ts) div 3600000000"))
      .withColumn("reward", when(col("value") > 50.0, 1L).otherwise(0L))
    val hourly = ev.groupBy("event_type", "hour_idx")
      .agg(count(lit(1)).as("n"), sum("reward").as("r"))
    // Complete (arm × hour) grid so cumulative stats advance through
    // hours where an arm wasn't played.
    val arms = hourly.select("event_type").distinct()
    val hours = hourly.select("hour_idx").distinct()
    val wcum = Window.partitionBy("event_type").orderBy("hour_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = arms.crossJoin(hours)
      .join(hourly, Seq("event_type", "hour_idx"), "left")
      .na.fill(0L, Seq("n", "r"))
      .withColumn("cn", coalesce(sum("n").over(wcum), lit(0L)))
      .withColumn("cr", coalesce(sum("r").over(wcum), lit(0L)))
      .withColumn("ctr", (col("cr") + 1.0) / (col("cn") + 2.0))
    val wpick = Window.partitionBy("hour_idx")
      .orderBy(col("ctr").desc, col("event_type"))
    val policy = grid
      .withColumn("rk", row_number().over(wpick))
      .filter(col("rk") === 1)
      .select(col("hour_idx"), col("event_type").as("chosen_arm"))
    policy
      .join(hourly.withColumnRenamed("event_type", "chosen_arm"),
        Seq("chosen_arm", "hour_idx"), "left")
      .select(col("hour_idx"), col("chosen_arm"),
        coalesce(col("n"), lit(0L)).as("n_matched"),
        round(coalesce(col("r"), lit(0L)) / col("n").cast("double"), 6)
          .as("replay_ctr"))
      .orderBy("hour_idx")
  }

  /** #23f int8 affine quantization audit of the embedding column —
    * the 4× storage cut every 100 TB vector corpus takes: per-vector
    * (min, scale = range/255) affine mapping to codes 0..255 via
    * higher-order array functions (transform/aggregate — whole-stage
    * codegen, no UDF). Certificates per vector: exact integer
    * Σcodes and Σcodes² (content-addressable without shipping the
    * code arrays), and the reconstruction-error bound
    * maxerr ≤ scale/2 (+ float slack) that affine quantization
    * guarantees — a false bound here means the rounding convention
    * drifted. Constant vectors take scale 1 and quantize to zeros. */
  def vecQuantize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        array_min(col("embedding")).as("mn"),
        array_max(col("embedding")).as("mx"))
      .withColumn("scale",
        when(col("mx") === col("mn"), lit(1.0))
          .otherwise((col("mx") - col("mn")) / lit(255.0)))
      .withColumn("codes",
        expr("transform(embedding, x -> cast(round((x - mn) / scale, 0) as int))"))
      .withColumn("maxerr", expr(
        "aggregate(embedding, cast(0.0 as double), (a, x) -> " +
          "greatest(a, abs(x - (mn + round((x - mn) / scale, 0) * scale))))"))
      .select(col("vec_id"),
        size(col("codes")).as("n_dims"),
        expr("aggregate(codes, 0L, (a, c) -> a + c)").as("sum_codes"),
        expr("aggregate(codes, 0L, (a, c) -> a + cast(c as bigint) * c)")
          .as("sum_sq"),
        (col("maxerr") <= col("scale") * lit(0.5000001)).as("within_bound"))
      .orderBy("vec_id")

  /** #5v hourly OHLC candlestick rollup per event type — open/close
    * are the values at the first/last (ts, event_id) of the hour,
    * computed as `min/max(struct(ts, id, value))` so the whole rollup
    * stays ONE hash aggregate with no window sort: the struct min is
    * mergeable, which is also what makes the same rollup incremental
    * under streaming. The oracle derives open/close by row_number —
    * different mechanics, identical pinned semantics. */
  def eventsOhlc(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("hour_us", expr("(ts_us div 3600000000) * 3600000000"))
    ev.groupBy("event_type", "hour_us")
      .agg(
        count(lit(1)).as("n"),
        min(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value").as("close"))
      .orderBy("event_type", "hour_us")
  }

  /** #5w time-weighted average (TWAP) per event type and day — each
    * observation holds until the next one (its weight is the micros
    * until the next event, or until midnight for the day's last), the
    * metric a plain `avg` misclocks whenever sampling is bursty. The
    * weights are exact integer micros; one lag pass per (type, day)
    * partition, no global sort. The plain average rides along so the
    * burstiness gap is visible in one row. */
  def eventsTwap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("day_us", expr("(ts_us div 86400000000) * 86400000000"))
    val w = Window.partitionBy("event_type", "day_us")
      .orderBy(col("ts_us"), col("event_id"))
    ev.withColumn("wt",
        coalesce(lead("ts_us", 1).over(w), col("day_us") + 86400000000L)
          - col("ts_us"))
      .groupBy("event_type", "day_us")
      .agg(count(lit(1)).as("n"),
        round(sum(col("value") * col("wt")) / sum("wt"), 6).as("twap"),
        round(avg("value"), 6).as("plain_avg"))
      .orderBy("event_type", "day_us")
  }

  /** #31e sessionization gap-sensitivity — n_sessions and mean session
    * size for candidate inactivity gaps (5 min / 30 min / 2 h), from
    * ONE per-user lag pass: a session starts where the gap to the
    * previous event exceeds the threshold (or at the user's first
    * event). The elbow of this curve picks the gap `sessionize`
    * should run with, without re-running assignment per candidate. */
  def sessionSensitivity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val ev = Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(w))
    val gaps = Seq(300L, 1800L, 7200L)
    val wide = ev.agg(
      count(lit(1)).as("n_events"),
      gaps.zipWithIndex.map { case (g, i) =>
        sum(when(col("gap").isNull || col("gap") > g * 1000000L, 1L)
          .otherwise(0L)).as(s"s$i")
      }: _*)
    val stackArgs = gaps.zipWithIndex
      .map { case (g, i) => s"${g}L, n_events, s$i" }.mkString(", ")
    wide.select(expr(s"stack(${gaps.length}, $stackArgs) " +
        "as (gap_s, n_events, n_sessions)"))
      .withColumn("mean_session_events",
        round(col("n_events") / col("n_sessions").cast("double"), 6))
      .orderBy("gap_s")
  }

  /** #37l Benjamini-Hochberg FDR screen over the hourly volume
    * anomalies — the multiple-testing correction `events_anomaly`'s
    * raw z>3 rule lacks: with thousands of (type, hour) cells, some
    * large z are expected by chance. Upper-tail p from the pinned
    * exp(−0.717z − 0.416z²) approximation (Lin 1989) on the 6dp-rounded
    * z, p itself rounded to 9dp — both engines agree bit-for-bit on
    * the rounded values, so the step-up boundary (largest i with
    * p_i ≤ i·q/m, q = 0.1) cannot flip between them. */
  /** The ranked hourly-anomaly p-values shared by [[anomalyFdr]] and
    * [[anomalyHolm]]: per-type hourly z-scores, the Pocock p
    * approximation rounded to 9dp, and the deterministic global rank
    * `i` with the candidate count `m` attached. */
  private def rankedAnomalies(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy("event_type")
      .agg(avg("n").as("mu"), stddev_pop("n").as("sd"))
    val z = hourly.join(stats, "event_type")
      .filter(col("sd") > 0)
      .withColumn("z", round((col("n") - col("mu")) / col("sd"), 6))
      .withColumn("az", abs(col("z")))
      .withColumn("p",
        round(exp(lit(-0.717) * col("az") - lit(0.416) * col("az") * col("az")), 9))
    val m = z.agg(count(lit(1)).as("m"))
    z.crossJoin(broadcast(m))
      .withColumn("i", row_number().over(
        Window.orderBy(col("p"), col("event_type"), col("hour_us"))).cast("long"))
  }

  def anomalyFdr(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedAnomalies(s, dir)
      .withColumn("hit", col("p") <= col("i") / (lit(10.0) * col("m")))
    val kmax = ranked.agg(max(when(col("hit"), col("i")).otherwise(0L)).as("kmax"))
    ranked.crossJoin(broadcast(kmax))
      .filter(col("i") <= col("kmax"))
      .select(col("event_type"), col("hour_us"), col("n"), col("z"), col("p"), col("i"))
      .orderBy("i")
  }

  /** #5u' Holm–Bonferroni step-down over the same hourly anomalies as
    * [[anomalyFdr]] — the familywise-error companion to BH's FDR: walk
    * p-values in ascending order, reject while p₍ᵢ₎ ≤ α/(m−i+1), stop
    * at the FIRST failure (BH instead keeps everything below the LAST
    * success). The compare multiplies instead of divides
    * (p·(m−i+1) ≤ 0.1) so no division enters the hash. Same two-phase
    * shape as BH: rank, find the stop index via one tiny aggregate,
    * filter. Windows run over the post-aggregate hourly set. */
  def anomalyHolm(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedAnomalies(s, dir)
      .withColumn("hit", col("p") * (col("m") - col("i") + 1) <= 0.1)
    val kstop = ranked.agg(coalesce(min(when(!col("hit"), col("i"))),
      max(col("i")) + 1).as("kstop"))
    ranked.crossJoin(broadcast(kstop))
      .filter(col("i") < col("kstop"))
      .select(col("event_type"), col("hour_us"), col("n"), col("z"), col("p"), col("i"))
      .orderBy("i")
  }

  /** #13g association rules from the co-purchase pairs — directional
    * confidence on top of `item_cooc`'s symmetric lift:
    * conf(a→b) = n_ab / n_a over order baskets, both directions
    * emitted, gated at conf ≥ 0.1 and support ≥ 2 baskets. The
    * basket-count side is a broadcast join (item margin table is
    * catalog-sized, not fact-sized). */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    val margin = b.groupBy("item").agg(count(lit(1)).as("n_item"))
    val p = OpsQueries.coocPairs(s, dir)
      .select(col("item_a"), col("item_b"), col("n_ab"))
    val both = p.select(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("n_ab"))
      .unionAll(p.select(col("item_b").as("antecedent"),
        col("item_a").as("consequent"), col("n_ab")))
    both.join(broadcast(margin.withColumnRenamed("item", "antecedent")), "antecedent")
      .withColumn("conf", round(col("n_ab") / col("n_item").cast("double"), 6))
      .filter(col("conf") >= 0.1)
      .select(col("antecedent"), col("consequent"), col("n_ab"), col("conf"))
      .orderBy("antecedent", "consequent")
  }

  /** #1l Deequ-style declarative data-quality constraint suite: six
    * constraints (not-null, composite-key uniqueness, two numeric
    * ranges, a value-set membership, a positivity check) evaluated in
    * ONE pass over lineitem — the violation counts fold as conditional
    * sums in a single aggregate (plus one distinct-count aggregate for
    * uniqueness), then stack() to the per-constraint report. This is
    * the gate a 100 TB ingest runs BEFORE publishing a partition: one
    * scan, not one scan per rule. */
  def dqConstraints(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val wide = li.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("v_nn"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("v_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
        .otherwise(0L)).as("v_disc"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
        .otherwise(0L)).as("v_flag"),
      sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("v_price"))
    val uniq = li.select("l_orderkey", "l_linenumber").distinct()
      .agg(count(lit(1)).as("n_distinct"))
    val one = wide.crossJoin(broadcast(uniq))
      .withColumn("v_uniq", col("n_rows") - col("n_distinct"))
    one.select(expr(
        "stack(6, " +
          "'l_orderkey_not_null', n_rows, v_nn, " +
          "'order_line_unique', n_rows, v_uniq, " +
          "'quantity_in_1_50', n_rows, v_qty, " +
          "'discount_in_0_01', n_rows, v_disc, " +
          "'returnflag_in_set', n_rows, v_flag, " +
          "'price_positive', n_rows, v_price) " +
          "as (rule, n_rows, n_violations)"))
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("rule")
  }

  /** #6h TPC-H Q15 shape — top supplier(s) by quarterly revenue: a
    * revenue rollup consumed twice (per-supplier totals and their
    * max), with the max side a one-row broadcast — the
    * view + correlated-scalar-equality pattern, planned without
    * re-scanning the fact table for the max. Cents exact; ties all
    * surface (the Q15 spec's subtlety). */
  def q25TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long"))
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum("cents").as("c"))
      .transform(Tables.checkpoint)
    val mx = rev.agg(max("c").as("mxc"))
    rev.crossJoin(broadcast(mx))
      .filter(col("c") === col("mxc"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
        "s_suppkey")
      .select(col("s_suppkey"), col("s_name"),
        round(col("c") / lit(100.0), 2).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** #53c Merkle-driven replica repair plan — the end-to-end use of
    * [[tableMerkle]]: a replica with deterministic planted drift
    * (docs dropped where md5(id)%97=0, text mutated where %89=1) is
    * diffed against the base by row hash, and the repair plan comes
    * back per Merkle bucket: how many rows to re-ship (missing),
    * overwrite (stale), and delete (extra) in each 1/16th — the
    * anti-entropy protocol's work list, sized before any data moves. */
  def replicaRepair(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val base = Tables.documents(s, dir)
    val keyHash = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val replica = base
      .filter(keyHash % 97 =!= 0)
      .withColumn("text",
        when(keyHash % 89 === 1, concat(col("text"), lit(" [v2]")))
          .otherwise(col("text")))
    def hashed(df: DataFrame, side: String): DataFrame =
      df.select(col("doc_id"),
        pmod(keyHash, lit(16L)).as("bucket"),
        graft.ops.Integrity.rowHash(cols).as(s"h_$side"))
    val diff = hashed(base, "a").join(
      hashed(replica, "b").withColumnRenamed("bucket", "bucket_b"),
      Seq("doc_id"), "full_outer")
    diff
      .groupBy(coalesce(col("bucket"), col("bucket_b")).as("bucket"))
      .agg(
        sum(when(col("h_b").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("h_a").isNull, 1L).otherwise(0L)).as("n_extra"),
        sum(when(col("h_a").isNotNull && col("h_b").isNotNull &&
          col("h_a") =!= col("h_b"), 1L).otherwise(0L)).as("n_stale"))
      .filter(col("n_missing") + col("n_extra") + col("n_stale") > 0)
      .orderBy("bucket")
  }

  /** #53b two-level Merkle fingerprint of the documents table
    * ([[graft.ops.Integrity.merkleChecksum]]): 16 md5-keyed buckets +
    * a root — the incremental-sync primitive that localizes a replica
    * mismatch to 1/16th of a 100 TB table before any row-level diff. */
  def tableMerkle(s: SparkSession, dir: String): DataFrame =
    graft.ops.Integrity.merkleChecksum(
        Tables.documents(s, dir), "doc_id",
        Seq("doc_id", "text", "lang", "source", "n_chars"), nBuckets = 16)
      .orderBy("level", "bucket")

  /** #13h frequent 3-itemsets over order baskets (support ≥ 2) — one
    * more join than `item_cooc`'s pairs, with the canonical
    * a < b < c ordering deduplicating permutations. The triple space
    * is bounded by per-basket combinations (baskets are small), not by
    * the catalog cube. */
  def basketTriples(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    b.as("x")
      .join(b.as("y"), col("x.basket") === col("y.basket") &&
        col("x.item") < col("y.item"))
      .join(b.as("z"), col("y.basket") === col("z.basket") &&
        col("y.item") < col("z.item"))
      .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"),
        col("z.item").as("item_c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .orderBy("item_a", "item_b", "item_c")
  }

  /** #4m hierarchical revenue tree — nation rows with exact
    * integer-basis-point share-of-region and share-of-total, the
    * ratio-to-parent OLAP readout over the region→nation hierarchy.
    * Shares are integral `cents·10000 div parent_cents`, so no float
    * division can disagree between engines. */
  def revenueTree(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.lineitem(s, dir)
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long"))
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum("cents").as("c"))
    nat.select(col("r_name"), col("n_name"),
        round(col("c") / lit(100.0), 2).as("revenue"),
        expr("c * 10000 div sum(c) over (partition by r_name)").as("share_region_bp"),
        expr("c * 10000 div sum(c) over ()").as("share_total_bp"))
      .orderBy("r_name", "n_name")
  }

  /** #1k join-cardinality estimator audit — the planner-statistics
    * sanity check: for each FK edge, the textbook uniform-key estimate
    * `|A|·|B| / max(d_A, d_B)` against the EXACT join size
    * `Σ_k cnt_A(k)·cnt_B(k)` (computed from the two key histograms,
    * never by materializing the join). ratio_bp = est·10000 div actual
    * stays positive-integer exact; a ratio far from 10000 on an edge
    * is where a cost-based planner (or a broadcast-threshold choice)
    * would misfire, and where these histograms should feed hints. */
  def joinSizeAudit(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, a: DataFrame, ka: String,
        b: DataFrame, kb: String): DataFrame = {
      val ca = a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("na"))
      val cb = b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("nb"))
      val actual = ca.join(cb, "k").agg(sum(col("na") * col("nb")).as("actual"))
      val statsA = ca.agg(sum("na").as("n_left"), count(lit(1)).as("d_left"))
      val statsB = cb.agg(sum("nb").as("n_right"), count(lit(1)).as("d_right"))
      statsA.crossJoin(statsB).crossJoin(actual)
        .select(lit(name).as("edge"),
          col("n_left"), col("n_right"), col("d_left"), col("d_right"),
          expr("n_left * n_right div greatest(d_left, d_right)").as("est_uniform"),
          coalesce(col("actual"), lit(0L)).as("actual"))
        .withColumn("ratio_bp", expr("est_uniform * 10000 div actual"))
    }
    Seq(
      edge("lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey"),
      edge("lineitem_part", Tables.lineitem(s, dir), "l_partkey",
        Tables.part(s, dir), "p_partkey"),
      edge("lineitem_supplier", Tables.lineitem(s, dir), "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey"),
      edge("orders_customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey"))
      .reduce(_ unionAll _)
      .orderBy("edge")
  }

  /** #31f Markov-chain removal-effect attribution — the data-driven
    * alternative to `attribution`'s positional first/last-touch rules
    * (Anderl et al. 2016): sessions become first-order chains
    * (__start → touches → __conv at the first purchase, or __null),
    * conversion probability is the 12-step absorption probability from
    * __start, and each channel's credit is its REMOVAL EFFECT — how
    * much that probability drops when transitions into the channel
    * redirect to __null. All configs (base + one per removed channel)
    * ride one transition table with a config key, and each power-
    * iteration step is a tiny (states² × configs)-row join-aggregate —
    * the chain is bounded by the channel alphabet, never by event
    * volume, so the 12 steps cost the same at 100 TB as at 1 GB. */
  def markovAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("tsu", unix_micros(col("ts")))
    val w = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
    // Pin the session-window exchange to cluster width (see
    // Tables.fanOutBy): all four per-(user[, session]) windows reuse the
    // user-hash layout exchange-free, and the CPU-dense window pipeline
    // stops running on the ~3 partitions AQE coalesces 3 MB to.
    val sess = Tables.fanOutBy(ev, ev, col("user_id"))
      .withColumn("news",
        when(col("tsu") - lag("tsu", 1).over(w) > 1800000000L ||
          lag("tsu", 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_idx",
        sum("news").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val w2 = Window.partitionBy("user_id", "session_idx")
      .orderBy(col("tsu"), col("event_id"))
    // pp (first purchase position; null when the session never converts
    // — min ignores the nulls of the CASE, exactly the old left-join
    // shape) and mx (session length) attach as full-partition window
    // aggregates over the SAME (user, session) partitioning as the rn
    // window — no extra exchange — instead of two groupBy+join passes
    // that re-executed the whole sessionization pipeline three times
    // (§5 multiply-consumed subtree). Integer min/max are order-
    // independent ⇒ identical values. The pruned stream is checkpointed
    // once: both transition consumers (e1, e2) read it.
    val wSess = Window.partitionBy("user_id", "session_idx")
    val rn = sess.withColumn("rn", row_number().over(w2))
      .withColumn("pp",
        min(when(col("event_type") === "purchase", col("rn"))).over(wSess))
      .withColumn("mx", max("rn").over(wSess))
    val kept = rn
      .filter(col("rn") <= coalesce(col("pp"), col("mx")))
      .transform(Tables.checkpoint)
    val w3 = Window.partitionBy("user_id", "session_idx").orderBy("rn")
    val stepped = kept.withColumn("prev", lag("event_type", 1).over(w3))
    val e1 = stepped.select(
      when(col("rn") === 1, "__start").otherwise(col("prev")).as("s"),
      when(col("event_type") === "purchase", "__conv")
        .otherwise(col("event_type")).as("t"))
    val e2 = kept.filter(col("pp").isNull && col("rn") === col("mx"))
      .select(col("event_type").as("s"), lit("__null").as("t"))
    val probs = e1.unionAll(e2).groupBy("s", "t").agg(count(lit(1)).as("n"))
      .withColumn("p", col("n") / sum("n").over(Window.partitionBy("s")))
      .select("s", "t", "p")
    val configs = ev.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("cfg")).distinct()
      .unionAll(s.range(1).select(lit("none").as("cfg")))
      .transform(Tables.checkpoint)
    // Removed channel: transitions into it redirect to __null (its own
    // outgoing rows drop — the state is unreachable).
    val ctrans = probs.crossJoin(broadcast(configs))
      .filter(col("s") =!= col("cfg"))
      .withColumn("t2", when(col("t") === col("cfg"), "__null").otherwise(col("t")))
      .groupBy(col("cfg"), col("s"), col("t2").as("t"))
      .agg(sum("p").as("p"))
      .transform(Tables.checkpoint)
    val conv = configs.select(col("cfg").as("vcfg"),
      lit("__conv").as("st"), lit(1.0).as("v"))
    var v = conv
    for (i <- 1 to 12) {
      // v is structurally ≤ |configs|·|states| rows (both bounded by the
      // event-type vocabulary, not the corpus) — broadcast it so each of
      // the 12 absorption steps is one broadcast join + one tiny
      // aggregation; without the hint the post-checkpoint/post-aggregate
      // size estimates let steps plan as sort-merge, paying two extra
      // exchanges + sorts per step (§3.1).
      val step = ctrans
        .join(broadcast(v), col("cfg") === col("vcfg") && col("t") === col("st"))
        .groupBy(col("cfg").as("vcfg"), col("s").as("st"))
        .agg(sum(col("p") * col("v")).as("v"))
      v = step.unionAll(conv)
      // Every 4th step: sever the lineage so the plan depth stays flat
      // (tiny frames — the checkpoint is metadata-cheap).
      if (i % 4 == 0) v = Tables.checkpoint(v)
    }
    val pstart = v.filter(col("st") === "__start")
      .select(col("vcfg").as("cfg"), col("v").as("p_conv"))
    val base = pstart.filter(col("cfg") === "none")
      .select(col("p_conv").as("p_base"))
    // LEFT join from the channel list: a channel whose removal makes
    // conversion IMPOSSIBLE never reaches __start in the absorption
    // walk (no v row at all) — it must surface as p_conv = 0 / 100%
    // removal effect, not silently vanish from the attribution
    // ([[graft.queries.EdgeBranchSpec]] pins the branch).
    val rem = configs.filter(col("cfg") =!= "none")
      .join(pstart, Seq("cfg"), "left")
      .withColumn("p_conv", coalesce(col("p_conv"), lit(0.0)))
      .crossJoin(broadcast(base))
      .withColumn("removal_effect", col("p_base") - col("p_conv"))
    val tot = rem.agg(sum("removal_effect").as("tot"))
    rem.crossJoin(broadcast(tot))
      .select(col("cfg").as("channel"),
        round(col("p_base"), 6).as("p_conv_base"),
        round(col("p_conv"), 6).as("p_conv_removed"),
        round(col("removal_effect"), 6).as("removal_effect"),
        when(col("tot") =!= 0,
          round(col("removal_effect") / col("tot"), 6)).as("share"))
      .orderBy("channel")
  }

  /** #7r cohort LTV curves — cumulative revenue per first-order
    * cohort month as months-since-first advance: the revenue-valued
    * extension of the retention matrix (`q11_retention` counts users;
    * this follows their money). Cents stay exact integers through the
    * running sum AND the per-customer average (integral cents-per-
    * customer before the /100 display divide — a double divide first
    * hits round-half boundaries the engines resolve differently). */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .withColumn("m", expr("year(o_orderdate) * 12 + month(o_orderdate)"))
    val first = ord.groupBy("o_custkey").agg(min("m").as("m0"))
    val size = first.groupBy("m0").agg(count(lit(1)).as("n_custs"))
    val rev = ord.join(first, "o_custkey")
      .groupBy(col("m0"), (col("m") - col("m0")).as("k"))
      .agg(sum("cents").as("cents"))
    val wc = Window.partitionBy("m0").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, 0)
    rev
      .withColumn("cum_cents", sum("cents").over(wc))
      .join(broadcast(size), "m0")
      .select(
        expr("(m0 - 1) div 12").as("cohort_year"),
        expr("(m0 - 1) % 12 + 1").as("cohort_month"),
        col("k"), col("n_custs"),
        round(col("cents") / lit(100.0), 2).as("revenue"),
        round(expr("cum_cents div n_custs") / lit(100.0), 2)
          .as("cum_rev_per_cust"))
      .orderBy("cohort_year", "cohort_month", "k")
  }

  /** #37o multivariate OLS via the normal equations
    * ([[graft.ops.Regression.olsNormal2]]): price-cents regressed on
    * quantity and discount basis points over the whole lineitem table.
    * One constant-size exact-DECIMAL moment aggregation + a scalar
    * Cramer solve — the canonical in-database ML reduction (the model
    * is a function of ten sums; no row leaves the executors). */
  def olsNormal(s: SparkSession, dir: String): DataFrame =
    graft.ops.Regression.olsNormal2(
      Tables.lineitem(s, dir).select(
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_discount") * 10000, 0).cast("long").as("disc_bp")),
      "cents", "qty", "disc_bp")

  /** #37q bottom-k (KMV) distinct sketch with exact audit: per event
    * type, the k = 16 smallest md5-derived 60-bit user hashes; the
    * k-th smallest order statistic h₍ₖ₎ estimates distinct users as
    * (k−1)·2⁶⁰/h₍ₖ₎ (Bar-Yossef et al.'s k-minimum-values estimator —
    * the mergeable bottom-k companion to the HLL sketches already in
    * the suite: union = merge the k-lists, re-take the k smallest).
    * The k-list per group comes from the custom bounded-heap top-k
    * operator (ascending), so no per-group sort materializes; the
    * audit column holds the exact distinct count and the estimator's
    * error in basis points. */
  def sketchBottomk(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val ev = Tables.events(s, dir)
    val dh = ev.select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .distinct()
    val sk = graft.plans.Graft
      .topKPerGroup(dh, Seq("event_type"), "h", k, descending = false)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_sk"), max("h").as("h_k"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    val est = when(col("n_sk") < k, col("n_sk").cast("double"))
      .otherwise(lit(15.0) * lit(1152921504606846976.0) / col("h_k"))
    sk.join(broadcast(exact), "event_type")
      .select(col("event_type"), lit(k).as("k"), col("n_exact"), col("h_k"),
        round(est, 6).as("est_distinct"),
        round(abs(est - col("n_exact")) / col("n_exact") * 10000, 0)
          .cast("long").as("err_bp"))
      .orderBy("event_type")
  }

  /** #31h exact Shapley-value channel attribution — the axiomatic
    * counterpart to [[markovAttribution]]'s removal effect. Each
    * user's journey reduces to a 4-bit touched-channel mask (click /
    * error / signup / view; conversion = any purchase); the coalition
    * value v(S) is the conversion rate among users whose journey is
    * contained in S, and φ(c) = Σ_S |S|!(3−|S|)!/4! · (v(S∪c) − v(S))
    * over the 8 coalitions excluding c.
    *
    * The raw table collapses to a 16-row mask census in ONE
    * aggregation; the subset (zeta) sums, the 16-row value table, and
    * the 32 Shapley terms are broadcast joins over that census — at
    * 100 TB the only full-data pass is the per-user mask groupBy. Each
    * term is rounded to integer nano-units before the exact sum, so
    * float ordering never touches φ (round-then-sum). */
  def shapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def touched(t: String) =
      max(when(col("event_type") === t, 1).otherwise(0))
    val j = ev.groupBy("user_id").agg(
      touched("purchase").as("conv"),
      (touched("click") + touched("error") * 2
        + touched("signup") * 4 + touched("view") * 8).as("mask"))
    val cm = j.groupBy("mask").agg(count(lit(1)).as("cnt"), sum("conv").as("cv"))
    val ss = s.range(16).select(col("id").cast("int").as("sset"))
    val vt = ss.join(broadcast(cm),
        col("mask").bitwiseAND(col("sset")) === col("mask"), "left")
      .groupBy("sset").agg(sum("cnt").as("cnt_sub"), sum("cv").as("cv_sub"))
      .select(col("sset"),
        when(col("cnt_sub").isNull || col("cnt_sub") === 0, lit(0.0))
          .otherwise(col("cv_sub").cast("double") / col("cnt_sub")).as("v"))
    import s.implicits._
    val ch = Seq(("click", 1), ("error", 2), ("signup", 4), ("view", 8))
      .toDF("channel", "cbit")
    val terms = broadcast(ch)
      .join(broadcast(vt.select(col("sset").as("s0"), col("v").as("vlo"))),
        col("s0").bitwiseAND(col("cbit")) === 0)
      .join(broadcast(vt.select(col("sset").as("s1"), col("v").as("vhi"))),
        col("s1") === col("s0").bitwiseOR(col("cbit")))
      .withColumn("bc", expr(
        "(s0 & 1) + ((s0 div 2) & 1) + ((s0 div 4) & 1) + ((s0 div 8) & 1)"))
      .withColumn("w", expr(
        "CASE bc WHEN 0 THEN 6.0 WHEN 1 THEN 2.0 WHEN 2 THEN 2.0 ELSE 6.0 END")
        / 24.0)
      .withColumn("t_nano",
        round(col("w") * (col("vhi") - col("vlo")) * 1000000000L, 0).cast("long"))
    terms.groupBy("channel").agg(sum("t_nano").as("phi_nano"))
      .select(col("channel"), col("phi_nano"),
        round(col("phi_nano") / 1000000000.0, 6).as("phi"))
      .orderBy("channel")
  }

  /** #37r forecast-baseline backtest with MASE: zero-fill the hourly
    * count series on its spine, cut the last 20% of hours as the test
    * horizon, and score TWO forecasters on it — seasonal-naive
    * ŷ(h) = y(h−24) (the scaling denominator Hyndman's MASE defines
    * against) and the train-fitted hour-of-day profile mean. MASE =
    * MAE_profile / MAE_naive < 1 ⟺ the model beats the no-model
    * baseline — the first honest question of any forecasting pipeline.
    *
    * Exactness: counts are integers on a deterministic integer spine;
    * naive errors are exact integers, profile errors are the exact
    * rational |y·n−s|/n rounded to ppm BEFORE summation
    * (round-then-sum); the cut and the h−24 availability guard are
    * integer arithmetic. Test hours whose hour-of-day never occurs in
    * train drop by the inner profile join (pinned in the oracle).
    * Scale: two aggregations and a spine join — the window-free
    * forecast-eval shape; the spine is |types|×|hours|, entity-scale. */
  def forecastBaseline(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("h"))
    val counts = ev.groupBy("event_type", "h").agg(count(lit(1)).as("y"))
    val bounds = ev.agg(min("h").as("mn"), max("h").as("mx"))
    val spine = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("h"),
        col("mn"), (col("mn") + expr("((mx - mn + 1) * 8) div 10")).as("hcut"))
    val series = spine.join(counts, Seq("event_type", "h"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
    val prof = series.filter(col("h") < col("hcut"))
      .withColumn("hod", pmod(col("h"), lit(24L)))
      .groupBy("event_type", "hod")
      .agg(sum("y").as("ps"), count(lit(1)).as("pn"))
    val lagged = series.select(col("event_type"),
      (col("h") + 24).as("h"), col("y").as("y_lag"))
    val scored = series.filter(col("h") >= col("hcut") && col("h") - 24 >= col("mn"))
      .join(lagged, Seq("event_type", "h"))
      .withColumn("hod", pmod(col("h"), lit(24L)))
      .join(broadcast(prof), Seq("event_type", "hod"))
      .withColumn("naive_ppm", abs(col("y") - col("y_lag")) * 1000000L)
      .withColumn("prof_ppm",
        round(abs(col("y") * col("pn") - col("ps")) * 1000000.0 / col("pn"), 0)
          .cast("long"))
    scored.groupBy("event_type")
      .agg(count(lit(1)).as("n_test"),
        sum("naive_ppm").as("sn"), sum("prof_ppm").as("sp"))
      .select(col("event_type"), col("n_test"),
        round(col("sn") / col("n_test") / 1000000.0, 6).as("mae_naive"),
        round(col("sp") / col("n_test") / 1000000.0, 6).as("mae_profile"),
        when(col("sn") === 0, lit(null).cast("double"))
          .otherwise(round(col("sp") / col("sn"), 6)).as("mase"))
      .orderBy("event_type")
  }

  /** #5ac CUPED variance reduction for the A/B readout (Deng et al.
    * 2013): per-user post-period spend adjusted by the pre-period
    * covariate, θ = cov(pre,post)/var(pre). The headline columns are
    * each arm's raw and adjusted post means and ρ² — the fraction of
    * metric variance the pre-period explains, i.e. how much smaller
    * the experiment could have been.
    *
    * Exactness: per-user (pre, post) sums are integer micros; θ and ρ²
    * derive from one pooled exact-DECIMAL moment row via pinned scalar
    * expressions ((n·Σxy − ΣxΣy)/(n·Σx² − Σx²) etc.), and the per-arm
    * adjusted mean is the closed form ȳ_a − θ(x̄_a − x̄) — scalar
    * arithmetic on exact aggregates, never a per-row float sum. The
    * time cut is the integer midpoint of the event-time range; the
    * arm is the deterministic multiplicative user hash. */
  def abCuped(s: SparkSession, dir: String): DataFrame = {
    val d18 = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 0)
    val ev = Tables.events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"),
      round(col("value") * 1000000, 0).cast("long").as("v_us"))
    val b = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("cut_us"))
    val per = ev.crossJoin(broadcast(b))
      .groupBy("user_id")
      .agg(sum(when(col("ts_us") < col("cut_us"), col("v_us")).otherwise(0L)).as("x"),
        sum(when(col("ts_us") >= col("cut_us"), col("v_us")).otherwise(0L)).as("y"))
      .withColumn("arm",
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, "a").otherwise("b"))
    val pooled = per.agg(count(lit(1)).as("n"),
      sum(col("x").cast(d18)).as("sx"), sum(col("y").cast(d18)).as("sy"),
      sum(col("x").cast(d18) * col("y").cast(d18)).as("sxy"),
      sum(col("x").cast(d18) * col("x").cast(d18)).as("sxx"),
      sum(col("y").cast(d18) * col("y").cast(d18)).as("syy"))
    val arm = per.groupBy("arm").agg(count(lit(1)).as("n_users"),
      sum("x").as("sxa"), sum("y").as("sya"))
    val covn = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varxn = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varyn = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    arm.crossJoin(broadcast(pooled))
      .withColumn("theta", when(varxn === 0.0, lit(0.0)).otherwise(covn / varxn))
      .withColumn("rho2",
        when(varxn === 0.0 || varyn === 0.0, lit(0.0))
          .otherwise(covn * covn / (varxn * varyn)))
      .select(col("arm"), col("n_users"),
        round(col("sya") / col("n_users") / 1000000.0, 6).as("mean_post"),
        round((col("sya") / col("n_users")
          - col("theta") * (col("sxa") / col("n_users")
            - col("sx").cast("double") / col("n"))) / 1000000.0, 6)
          .as("mean_post_adj"),
        round(col("theta"), 6).as("theta"),
        round(col("rho2"), 6).as("rho2"))
      .orderBy("arm")
  }

  /** #5ad binary-segmentation changepoint: the single best split of
    * each type's zero-filled hourly count series by SSE reduction —
    * the first step of the classic binary-segmentation recursion, and
    * the "WHERE did the level shift happen" answer next to
    * [[eventsCusum]]'s "DID it shift" flag. Maximizing
    * −(SSE_l+SSE_r) ≡ maximizing Sl²/nl + Sr²/nr (Σy² cancels), so
    * the scan needs only prefix sums of exact integer counts; the
    * per-split gain is one pinned double, rounded BEFORE the
    * (gain desc, h) argmax through the bounded-heap top-1 operator
    * (round-then-rank). The prefix window runs over the hours-scale
    * aggregate series, never raw rows. */
  def changepointBinseg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("h"))
    val counts = ev.groupBy("event_type", "h").agg(count(lit(1)).as("y"))
    val spine = ev.select("event_type").distinct()
      .crossJoin(broadcast(ev.agg(min("h").as("mn"), max("h").as("mx"))))
      .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("h"))
    val series = spine.join(counts, Seq("event_type", "h"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = series.groupBy("event_type")
      .agg(sum("y").as("st"), count(lit(1)).as("nt"))
    val g = series
      .withColumn("sl", sum("y").over(w))
      .withColumn("nl", count(lit(1)).over(w))
      .join(broadcast(tot), "event_type")
      .filter(col("nl") < col("nt"))
      .withColumn("sr", col("st") - col("sl"))
      .withColumn("nr", col("nt") - col("nl"))
      .withColumn("gain", round(
        (col("sl") * col("sl")).cast("double") / col("nl")
          + (col("sr") * col("sr")).cast("double") / col("nr")
          - (col("st") * col("st")).cast("double") / col("nt"), 6))
    graft.plans.Graft
      .topKPerGroup(g, Seq("event_type"), "gain", 1, tiebreak = Seq("h"))
      .select(col("event_type"), (col("h") + 1).as("split_hour"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        round(col("sl") / col("nl"), 6).as("mean_left"),
        round(col("sr") / col("nr"), 6).as("mean_right"), col("gain"))
      .orderBy("event_type")
  }

  /** #5ae propensity-stratified ATE (subclassification, Cochran 1968 /
    * Rosenbaum-Rubin): users bucket into quintiles of their PRE-period
    * spend (the deterministic stand-in for a propensity score), the
    * treatment contrast is taken WITHIN each stratum, and the overall
    * row re-weights the per-stratum contrasts by stratum size — the
    * adjustment that removes covariate imbalance a raw diff-in-means
    * inherits. Companion to [[abCuped]] (regression adjustment) and
    * [[eventsDid]] (time adjustment).
    *
    * Exactness: per-user (pre, post) integer micros; quintiles via the
    * exact bucketed ntile; per-stratum contrasts are rationals of
    * exact sums, each size-weighted term rounded to integer
    * micro·user units before the exact total (round-then-sum). Strata missing an arm
    * yield null contrasts and drop from the weighted total, pinned
    * identically in the oracle. */
  def ateStratified(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"),
      round(col("value") * 1000000, 0).cast("long").as("v_us"))
    val b = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("cut_us"))
    val per = ev.crossJoin(broadcast(b))
      .groupBy("user_id")
      .agg(sum(when(col("ts_us") < col("cut_us"), col("v_us")).otherwise(0L)).as("x"),
        sum(when(col("ts_us") >= col("cut_us"), col("v_us")).otherwise(0L)).as("y"))
      .withColumn("treated",
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) >= 500000L, 1L).otherwise(0L))
    val strat = graft.ops.ChronoSplit.withNtile(per, "x", "user_id", 5, "stratum")
    val g = strat.groupBy("stratum").agg(
      sum(when(col("treated") === 1, 1L).otherwise(0L)).as("n_t"),
      sum(when(col("treated") === 0, 1L).otherwise(0L)).as("n_c"),
      sum(when(col("treated") === 1, col("y")).otherwise(0L)).as("syt"),
      sum(when(col("treated") === 0, col("y")).otherwise(0L)).as("syc"))
    val tot = g.agg(sum(col("n_t") + col("n_c")).as("nn"),
      sum("n_t").as("tnt"), sum("n_c").as("tnc"),
      sum("syt").as("tsyt"), sum("syc").as("tsyc"),
      sum(when(col("n_t") > 0 && col("n_c") > 0,
        round(((col("n_t") + col("n_c"))
          * (col("syt") / col("n_t") - col("syc") / col("n_c"))), 0)
          .cast("long")).otherwise(0L)).as("wsum"))
    val strata = g.select(col("stratum").cast("string").as("stratum"),
      col("n_t"), col("n_c"),
      when(col("n_t") === 0, lit(null).cast("double"))
        .otherwise(round(col("syt") / col("n_t") / 1000000.0, 6)).as("mean_t"),
      when(col("n_c") === 0, lit(null).cast("double"))
        .otherwise(round(col("syc") / col("n_c") / 1000000.0, 6)).as("mean_c"),
      when(col("n_t") === 0 || col("n_c") === 0, lit(null).cast("double"))
        .otherwise(round((col("syt") / col("n_t") - col("syc") / col("n_c"))
          / 1000000.0, 6)).as("diff"))
    val all = tot.select(lit("ALL").as("stratum"), col("tnt").as("n_t"),
      col("tnc").as("n_c"),
      round(col("tsyt") / col("tnt") / 1000000.0, 6).as("mean_t"),
      round(col("tsyc") / col("tnc") / 1000000.0, 6).as("mean_c"),
      round(col("wsum") / col("nn") / 1000000.0, 6).as("diff"))
    strata.unionAll(all).orderBy("stratum")
  }

  /** #5af power analysis / minimum detectable effect for the A/B
    * readout: per event type, the smallest absolute (and relative)
    * lift the current sample sizes can detect at α = 5% two-sided with
    * 80% power — MDE = (z₀.₉₇₅ + z₀.₈)·√(s²ₐ/nₐ + s²ᵦ/nᵦ). The
    * "should we even run this test" companion to [[OpsQueries.abTtest]]'s
    * after-the-fact verdict; the z-sum enters as one pinned literal.
    * Sample variances come from exact DECIMAL moments of integer
    * micros, so engine and oracle agree bit-for-bit before round. */
  def abPower(s: SparkSession, dir: String): DataFrame = {
    val d18 = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 0)
    val z = 2.8015852181129683 // z_{0.975} + z_{0.80}
    val g = Tables.events(s, dir)
      .select(col("event_type"),
        round(col("value") * 1000000, 0).cast("long").as("v"),
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L).as("arm"))
      .groupBy("event_type", "arm")
      .agg(count(lit(1)).as("n"), sum(col("v").cast(d18)).as("sv"),
        sum(col("v").cast(d18) * col("v").cast(d18)).as("svv"))
      .withColumn("vr", when(col("n") > 1,
        (col("n") * col("svv") - col("sv") * col("sv"))
          .cast("double") / (col("n").cast("double") * (col("n") - 1))))
    val a = g.filter(col("arm") === 0).select(col("event_type"),
      col("n").as("n_a"), col("sv").as("sv_a"), col("vr").as("vr_a"))
    val bb = g.filter(col("arm") === 1).select(col("event_type"),
      col("n").as("n_b"), col("vr").as("vr_b"))
    a.join(bb, "event_type")
      .withColumn("se", sqrt(col("vr_a") / col("n_a") + col("vr_b") / col("n_b")))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("sv_a").cast("double") / col("n_a") / 1000000.0, 6)
          .as("mean_a"),
        round(lit(z) * col("se") / 1000000.0, 6).as("mde_abs"),
        when(col("sv_a") =!= 0, round(lit(z) * col("se")
          / (col("sv_a").cast("double") / col("n_a")), 6)).as("mde_rel"))
      .orderBy("event_type")
  }

  /** #5ac Ljung–Box portmanteau test on the hourly event-count series
    * (per event type, lags 1–6) — the classical "is this series white
    * noise" screen behind seasonality/forecasting decisions, extending
    * [[graft.queries.OpsQueries.eventsAcf]]'s corr readout with the
    * joint Q statistic. Autocovariances are assembled from INTEGER
    * moments only — n²·Σxₜxₜ₋ₖ − nS(Aₖ+Bₖ) + mₖS² over DECIMAL(38,0)
    * (HUGEINT in the oracle), so each rₖ is one exact ratio evaluated
    * in double once; Q accumulates pico-rounded rₖ²/(n−k) terms
    * (round-then-sum) so float summation order cannot flip the
    * round-6 digit. The only windows run over the post-aggregate
    * hourly series (|types|·|hours| rows), never raw events. */
  def eventsLjungBox(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("hour_us")
    val lagged = (1 to 6).foldLeft(hourly) { (df, k) =>
      df.withColumn(s"x$k", lag("x", k).over(w))
    }
    val aggCols = Seq(count(lit(1)).as("n"), sum("x").as("s"),
      sum(col("x") * col("x")).as("ss")) ++
      (1 to 6).flatMap { k =>
        Seq(sum(col("x") * col(s"x$k")).as(s"c$k"),
          sum(when(col(s"x$k").isNotNull, col("x"))).as(s"a$k"),
          sum(col(s"x$k")).as(s"b$k"),
          count(col(s"x$k")).as(s"m$k"))
      }
    val agg = lagged.groupBy("event_type").agg(aggCols.head, aggCols.tail: _*)
    val stackExpr = "stack(6, " + (1 to 6).map(k =>
      s"${k}L, c$k, a$k, b$k, m$k").mkString(", ") + ") as (k, c, a, b, m)"
    val terms = agg
      .selectExpr("event_type", "n", "s", "ss", stackExpr)
      .withColumn("r",
        expr("""cast(cast(n as decimal(38,0))*n*c - cast(n as decimal(38,0))*s*(a+b)
          + cast(m as decimal(38,0))*s*s as double)
          / cast(cast(n as decimal(38,0))*(cast(n as decimal(38,0))*ss
          - cast(s as decimal(38,0))*s) as double)"""))
      .withColumn("term", expr("cast(round(r*r/m*1e12, 0) as bigint)"))
    val cw = Window.partitionBy("event_type").orderBy("k")
    terms
      .withColumn("cum", sum("term").over(cw))
      .select(col("event_type"), col("k").as("lag"), col("n").as("n_hours"),
        round(col("r"), 6).as("r"),
        expr("round(n*(n+2)*cum/1e12, 6)").as("q_stat"))
      .orderBy("event_type", "lag")
  }

  /** #5ad Fleiss' kappa over three heuristic document-quality
    * annotators (length ≥ 300 chars, mean word length ≥ 5.5, word
    * count ≥ 60) — the m-rater generalization of the Cohen's-kappa
    * agreement audit (`langid_kappa`) that a labeling pipeline runs
    * before trusting an ensemble of weak labelers. Everything is
    * integer until the final divisions: with SQ = Σᵢ(n_{i1}²+n_{i0}²),
    * P̄ = (SQ−3N)/(6N), P̄ₑ = (T₁²+T₀²)/(9N²), and
    * κ = (3N(SQ−3N) − 2(T₁²+T₀²)) / (2(9N² − T₁² − T₀²)) — exact
    * integer numerator/denominator (DECIMAL(38,0) vs HUGEINT), one
    * double division per readout. One scan, one 1-row aggregate. */
  /** The three heuristic document-quality annotators shared by
    * [[fleissKappa]] and [[annotatorAlpha]]: length ≥ 300 chars, mean
    * word length ≥ 5.5 (`2·chars ≥ 11·words`), word count ≥ 60 — each
    * a 0/1 label column (`ra`, `rb`, `rc`). */
  private def raterLabels(d: DataFrame): DataFrame = d
    .withColumn("lc", length(col("text")))
    .withColumn("wc", length(col("text"))
      - length(regexp_replace(col("text"), " ", "")) + 1)
    .withColumn("ra", when(col("n_chars") >= 300, 1L).otherwise(0L))
    .withColumn("rb", when(col("lc") * 2 >= col("wc") * 11, 1L).otherwise(0L))
    .withColumn("rc", when(col("wc") >= 60, 1L).otherwise(0L))

  /** #5as' Gwet AC1 agreement over the same three deterministic raters
    * — the paradox-resistant alternative to [[fleissKappa]] (kappa
    * collapses under prevalence skew; AC1's chance term uses the
    * overall positive rate symmetrically): Pa is Fleiss's observed
    * agreement, Pe = 2π(1−π) with π = t₁/(3n) — all single chains over
    * the same exact integer tallies. */
  def gwetAc1(s: SparkSession, dir: String): DataFrame = {
    val labeled = raterLabels(Tables.documents(s, dir))
      .withColumn("n1", col("ra") + col("rb") + col("rc"))
      .withColumn("n0", lit(3L) - col("n1"))
    labeled.agg(
        count(lit(1)).as("n"), sum("n1").as("t1"),
        sum(col("n1") * col("n1") + col("n0") * col("n0")).as("sq"))
      .select(col("n").as("n_docs"), col("t1").as("t_pos"),
        expr("round(cast(sq - 3*n as double)/cast(6*n as double), 6)").as("p_a"),
        expr("""round(2*(cast(t1 as double)/(3*n))*(1 - cast(t1 as double)/(3*n)), 6)""")
          .as("p_e_gamma"),
        expr("""round((cast(sq - 3*n as double)/cast(6*n as double)
            - 2*(cast(t1 as double)/(3*n))*(1 - cast(t1 as double)/(3*n)))
          /(1 - 2*(cast(t1 as double)/(3*n))*(1 - cast(t1 as double)/(3*n))), 6)""")
          .as("ac1"))
  }

  def fleissKappa(s: SparkSession, dir: String): DataFrame = {
    val labeled = raterLabels(Tables.documents(s, dir))
      .withColumn("n1", col("ra") + col("rb") + col("rc"))
      .withColumn("n0", lit(3L) - col("n1"))
    labeled.agg(
        count(lit(1)).as("n"), sum("n1").as("t1"), sum("n0").as("t0"),
        sum(col("n1") * col("n1") + col("n0") * col("n0")).as("sq"))
      .select(col("n").as("n_docs"), col("t1").as("t_pos"),
        expr("round(cast(sq - 3*n as double) / cast(6*n as double), 6)")
          .as("p_bar"),
        expr("""round(cast(cast(t1 as decimal(38,0))*t1 + cast(t0 as decimal(38,0))*t0 as double)
          / cast(9*cast(n as decimal(38,0))*n as double), 6)""").as("p_e"),
        expr("""case when 9*cast(n as decimal(38,0))*n
            <> cast(t1 as decimal(38,0))*t1 + cast(t0 as decimal(38,0))*t0 then
          round(cast(3*cast(n as decimal(38,0))*(sq - 3*n)
            - 2*(cast(t1 as decimal(38,0))*t1 + cast(t0 as decimal(38,0))*t0) as double)
          / cast(2*(9*cast(n as decimal(38,0))*n - cast(t1 as decimal(38,0))*t1
            - cast(t0 as decimal(38,0))*t0) as double), 6) end""").as("kappa"))
  }

  /** #5ae one-way ANOVA of event value by event type — the parametric
    * companion to `kruskal_wallis`: between/within sums of squares and
    * the F statistic over k groups. Values become exact integer
    * milli-units; Σv and Σv² are exact (DECIMAL(38,0) for the squared
    * moment); each group's S_i²/n_i correction term is one
    * deterministic double expression rounded to an integer BEFORE the
    * cross-group sum (round-then-sum), so k-way float order cannot
    * move the readout. One scan, one k-row aggregate. */
  def eventsAnova(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.events(s, dir)
      .select(col("event_type"), round(col("value") * 1000, 0).cast("long").as("v"))
    val g = v.groupBy("event_type")
      .agg(count(lit(1)).as("n_i"), sum("v").as("s_i"),
        sum(expr("cast(v as decimal(38,0)) * v")).as("ssq_i"))
      .withColumn("gterm",
        expr("cast(round(cast(s_i as double)*cast(s_i as double)/n_i, 0) as bigint)"))
    g.agg(count(lit(1)).as("k"), sum("n_i").as("n"), sum("s_i").as("s"),
        sum("ssq_i").as("ssq"), sum("gterm").as("gsum"))
      .select(col("k"), col("n"),
        expr("round((gsum - cast(round(cast(s as double)*cast(s as double)/n, 0) as bigint)) / 1e6, 6)")
          .as("ss_between"),
        expr("round((ssq - gsum) / 1e6, 6)").as("ss_within"),
        expr("""case when k > 1 and ssq > gsum then
          round(cast(gsum - cast(round(cast(s as double)*cast(s as double)/n, 0) as bigint) as double) * (n - k)
          / (cast(ssq - gsum as double) * (k - 1)), 6) end""").as("f_stat"))
  }

  /** #5af Bartlett's test for equal variances across event types — the
    * gate [[eventsAnova]]'s pooled-variance assumption needs. Sample
    * variances come from exact DECIMAL(38,0) moments of integer
    * milli-units, so each s_i² is one deterministic double; the three
    * cross-group sums ((n_i−1)s_i² in integer milli² units,
    * (n_i−1)·ln s_i² in nano units, 1/(n_i−1) in femto units) are
    * round-then-sum so k-way float order is moot. M is scale-invariant
    * (the milli² unit cancels between the pooled and per-group ln
    * terms). One scan, one k-row aggregate. */
  def eventsBartlett(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.events(s, dir)
      .select(col("event_type"), round(col("value") * 1000, 0).cast("long").as("v"))
    val g = v.groupBy("event_type")
      .agg(count(lit(1)).as("n_i"), sum("v").as("s_i"),
        sum(expr("cast(v as decimal(38,0)) * v")).as("ssq_i"))
      .withColumn("num_i",
        expr("cast(n_i as decimal(38,0))*ssq_i - cast(s_i as decimal(38,0))*s_i"))
      // Singleton or constant groups carry no variance information and
      // would hit ln(0) / division by n_i - 1 = 0: excluded by
      // convention (the oracle mirrors the same WHERE).
      .filter(expr("n_i > 1 and num_i > 0"))
      .withColumn("s2_i",
        expr("cast(num_i as double) / cast(cast(n_i as decimal(38,0))*(n_i - 1) as double)"))
      .withColumn("wterm", expr("cast(round(cast(num_i as double)/n_i, 0) as bigint)"))
      .withColumn("lterm", expr("cast(round((n_i - 1)*ln(s2_i)*1e9, 0) as bigint)"))
      .withColumn("cterm", expr("cast(round(1e15/(n_i - 1), 0) as bigint)"))
    g.agg(count(lit(1)).as("k"), sum("n_i").as("n"), sum("wterm").as("sw"),
        sum("lterm").as("sl"), sum("cterm").as("sc"))
      .withColumn("m_raw",
        expr("(n - k)*ln(cast(sw as double)/(n - k)) - sl/1e9"))
      .withColumn("c_raw",
        expr("1 + (sc/1e15 - cast(1 as double)/(n - k))/(3*(k - 1))"))
      .select(col("k"), col("n"),
        expr("round(cast(sw as double)/(n - k)/1e6, 6)").as("pooled_var"),
        expr("round(m_raw, 6)").as("m_stat"),
        expr("round(c_raw, 6)").as("c_factor"),
        expr("round(m_raw/c_raw, 6)").as("bartlett"))
  }

  /** #27c'' Cronbach's alpha over the three quality annotators of
    * [[fleissKappa]] — the internal-consistency readout (are the weak
    * labelers measuring the same construct?) that complements kappa's
    * chance-corrected agreement. With population variances sharing the
    * N² denominator, α = (k/(k−1))(1 − Σᵢvarᵢ/var_total) reduces to
    * EXACT integer arithmetic: numerators N·Σx² − (Σx)² per item and
    * for the total score, DECIMAL(38,0) against the oracle's HUGEINT,
    * one double division at the end. One scan, one 1-row aggregate. */
  def annotatorAlpha(s: SparkSession, dir: String): DataFrame = {
    val labeled = raterLabels(Tables.documents(s, dir))
      .withColumn("t", col("ra") + col("rb") + col("rc"))
    labeled.agg(count(lit(1)).as("n"),
        sum("ra").as("sa"), sum("rb").as("sb"), sum("rc").as("sc"),
        sum(col("ra") * col("ra")).as("qa"), sum(col("rb") * col("rb")).as("qb"),
        sum(col("rc") * col("rc")).as("qc"),
        sum("t").as("st"), sum(col("t") * col("t")).as("qt"))
      .withColumn("vs", expr("""(cast(n as decimal(38,0))*qa - cast(sa as decimal(38,0))*sa)
        + (cast(n as decimal(38,0))*qb - cast(sb as decimal(38,0))*sb)
        + (cast(n as decimal(38,0))*qc - cast(sc as decimal(38,0))*sc)"""))
      .withColumn("vt",
        expr("cast(n as decimal(38,0))*qt - cast(st as decimal(38,0))*st"))
      .select(col("n").as("n_docs"),
        expr("round(cast(vs as double)/cast(n as double)/n, 6)").as("var_items"),
        expr("round(cast(vt as double)/cast(n as double)/n, 6)").as("var_total"),
        expr("""case when vt <> 0 then
          round(3*(1 - cast(vs as double)/cast(vt as double))/2, 6) end""")
          .as("alpha"))
  }

  /** #7s Weight-of-Evidence / Information-Value screen — the classic
    * credit-scoring feature-vs-binary-target strength readout: orders
    * banded by total price (50k-wide bands, capped at 10), target =
    * "order has a returned line". WoE uses half-count smoothing
    * expressed as EXACT integers ((2g+1)·B vs (2b+1)·G, DECIMAL(38,0)
    * against HUGEINT) so ln sees one correctly-rounded double ratio;
    * IV accumulates nano-rounded per-band terms (round-then-sum). The
    * returned-order flag is a left semi-style join on the distinct
    * returned orderkeys; bands are pure arithmetic (no window). */
  def woeIv(s: SparkSession, dir: String): DataFrame = {
    val ret = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey")).distinct()
      .withColumn("is_bad", lit(1L))
    val o = Tables.orders(s, dir)
      .withColumn("band",
        least(expr("cast(round(o_totalprice * 100, 0) as bigint) div 5000000"), lit(9L)))
      .join(ret, Seq("o_orderkey"), "left")
      .withColumn("bad", coalesce(col("is_bad"), lit(0L)))
    val byBand = o.groupBy("band")
      .agg(count(lit(1)).as("n"), sum("bad").as("n_bad"))
      .withColumn("n_good", col("n") - col("n_bad"))
    val tot = byBand.agg(sum("n_good").as("g"), sum("n_bad").as("b"))
    val rows = byBand.crossJoin(broadcast(tot))
      .withColumn("woe", expr(
        """ln(cast(cast(2*n_good + 1 as decimal(38,0))*b as double)
          / cast(cast(2*n_bad + 1 as decimal(38,0))*g as double))"""))
      .withColumn("iv_term_nano", expr(
        "cast(round((cast(n_good as double)/g - cast(n_bad as double)/b)*woe*1e9, 0) as bigint)"))
    val iv = rows.agg(sum("iv_term_nano").as("iv_nano"))
    rows.crossJoin(broadcast(iv))
      .select(col("band"), col("n"), col("n_bad"), col("n_good"),
        round(col("woe"), 6).as("woe"),
        expr("round(iv_term_nano/1e9, 6)").as("iv_term"),
        expr("round(iv_nano/1e9, 6)").as("iv_total"))
      .orderBy("band")
  }

  /** #5ag peak concurrent sessions per day — the capacity-planning
    * number (how many users are on at once, worst instant of each
    * day). Sessions are the repo's 30-minute-gap islands per user;
    * each contributes a +1 at its start and a −1 at its last event,
    * and the day's peak is the max of the global running sum over
    * boundary events ordered by (instant, starts-before-ends). The
    * sign is folded into a single integer sort key (2t + [delta<0])
    * so the running sum goes through ChronoSplit's bucketed order
    * stats — no unpartitioned window over the boundary stream; ties
    * inside an equal key share a delta sign, so the per-day max is
    * order-invariant. */
  def concurrencyPeak(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChronoSplit
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val sess = ev
      .withColumn("news",
        when(col("ts_us") - lag("ts_us", 1).over(w) >= 1800000000L
          || lag("ts_us", 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sess",
        sum("news").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sess")
      .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"))
    val deltas = sess.select(col("start_us").as("t"), lit(1L).as("delta"))
      .unionAll(sess.select(col("end_us").as("t"), lit(-1L).as("delta")))
      .withColumn("key",
        col("t") * 2 + when(col("delta") < 0, 1L).otherwise(0L))
    val cum = ChronoSplit.withOrderStats(deltas, "key", "t",
      sumCols = Seq("delta"), withRank = false)
    cum.groupBy(expr("t div 86400000000").as("day_idx"))
      .agg(max(col(ChronoSplit.cumCol("delta"))).as("peak_concurrency"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"))
      .orderBy("day_idx")
  }

  /** #7t Atkinson inequality index (ε = 1) of customer revenue per
    * nation — 1 − geometric/arithmetic mean ratio, the
    * welfare-grounded companion to `revenue_gini`/`revenue_theil`
    * with an explicit inequality-aversion parameter (ε = 1 is the
    * log-utility point where the index needs only the two means).
    * Revenue is exact integer cents; ln terms round to nano units
    * BEFORE the per-nation sum (round-then-sum); customers with zero
    * revenue are outside the ln domain and excluded by the cents > 0
    * gate. One agg over customers, broadcast nation join. */
  def revenueAtkinson(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
    cust.filter(col("cents") > 0)
      .withColumn("lterm", expr("cast(round(ln(cents)*1e9, 0) as bigint)"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("sum_cents"),
        sum("lterm").as("sl"))
      .select(col("n_name"), col("n_customers"),
        round(col("sum_cents") / 100.0, 2).as("total_revenue"),
        expr("""round(1 - exp(sl/1e9/n_customers)
          / (cast(sum_cents as double)/n_customers), 6)""").as("atkinson"))
      .orderBy("n_name")
  }

  /** #5ah Friedman test over the (day × event-type) daily-count
    * matrix — the nonparametric repeated-measures ANOVA: within each
    * day-block the k types are ranked by volume, and Q asks whether
    * the rank sums could be chance. The complete grid is built
    * explicitly (absent cells = 0) so every block ranks all k
    * treatments. Tied counts take average ranks through the integer
    * doubling r2 = 2·minrank + ties − 1, so rank sums stay EXACT
    * integers; Q = 3·ΣR2ⱼ²/(nk(k+1)) − 3n(k+1) is one double division
    * over integer aggregates. Windows run over the tiny day-grid. */
  def eventsFriedman(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day_idx"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = daily.select("day_idx").distinct()
      .crossJoin(daily.select("event_type").distinct())
      .join(daily, Seq("day_idx", "event_type"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val wd = Window.partitionBy("day_idx")
    val ranked = grid
      .withColumn("r2",
        lit(2L) * rank().over(wd.orderBy("n"))
          + count(lit(1)).over(wd.partitionBy("day_idx", "n")) - 1)
    val perType = ranked.groupBy("event_type")
      .agg(count(lit(1)).as("n_blocks"), sum("r2").as("r2_sum"))
    val tot = perType.agg(count(lit(1)).as("k"), max("n_blocks").as("nb"),
      sum(col("r2_sum") * col("r2_sum")).as("sq"))
    perType.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_blocks"),
        expr("round(r2_sum/2e0, 1)").as("rank_sum"),
        expr("round(3*cast(sq as double)/(nb*k*(k + 1)) - 3*nb*(k + 1), 6)")
          .as("q_stat"))
      .orderBy("event_type")
  }

  /** #5ai Mann–Kendall trend test on the hourly series per type — the
    * distribution-free monotone-trend screen that pairs with
    * `events_theilsen`'s slope: S = Σ sign(x_j − x_i) over all hour
    * pairs i<j, with the exact tie-corrected variance
    * (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18 and the continuity-corrected
    * z. Everything before the final sqrt is exact integer arithmetic;
    * the pair space is |hours|² per type — post-aggregate scale, NOT
    * raw rows (the raw table never self-joins). */
  def eventsMannKendall(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("x"))
    val pairs = hourly.as("a").join(hourly.as("b"),
        col("a.event_type") === col("b.event_type")
          && col("a.hour_us") < col("b.hour_us"))
      .select(col("a.event_type").as("event_type"),
        signum(col("b.x") - col("a.x")).cast("long").as("sg"))
    val sstat = pairs.groupBy("event_type").agg(sum("sg").as("s_stat"))
    val ties = hourly.groupBy("event_type", "x").agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_levels"), sum("t").as("n_hours"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_corr"))
    sstat.join(ties, "event_type")
      .withColumn("var18",
        expr("n_hours*(n_hours - 1)*(2*n_hours + 5) - tie_corr"))
      .select(col("event_type"), col("n_hours"), col("s_stat"),
        expr("round(var18/18e0, 6)").as("var_s"),
        expr("""round(case when s_stat > 0 then (s_stat - 1)/sqrt(var18/18e0)
          when s_stat < 0 then (s_stat + 1)/sqrt(var18/18e0)
          else cast(0 as double) end, 6)""").as("z"))
      .orderBy("event_type")
  }

  /** #5aj p-chart (attribute control chart) of the daily error share —
    * the SPC readout behind "is today's failure rate special or just
    * noise": per-day error proportion against 3σ binomial limits
    * around the pooled rate. Tallies are exact integers; p̄, each
    * day's p̂ and the limits are single double expressions repeated
    * verbatim by the oracle, and the out-of-control flag compares the
    * UNROUNDED limit (no tolerance smuggling). One scan, one day
    * aggregate. */
  def spcPchart(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("x"))
    val pooled = daily.agg(sum("n").as("sn"), sum("x").as("sx"))
    daily.crossJoin(broadcast(pooled))
      .withColumn("pbar", expr("cast(sx as double)/sn"))
      .withColumn("sig", expr("sqrt(pbar*(1 - pbar)/n)"))
      .select(col("day_idx"), col("n"), col("x"),
        expr("round(cast(x as double)/n, 6)").as("p_hat"),
        expr("round(pbar, 6)").as("p_bar"),
        expr("round(pbar + 3*sig, 6)").as("ucl"),
        expr("round(greatest(pbar - 3*sig, cast(0 as double)), 6)").as("lcl"),
        expr("""cast(x as double)/n > pbar + 3*sig
          or cast(x as double)/n < greatest(pbar - 3*sig, cast(0 as double))""")
          .as("out_of_control"))
      .orderBy("day_idx")
  }

  /** #5ak leave-one-day-out jackknife standard error of the mean
    * event value — the resampling-based uncertainty readout that
    * respects day-level clustering (days, not rows, are the exchange
    * unit). Day sums are exact integer micro-units; each leave-one-out
    * mean is one exact-ratio double rounded to nano units BEFORE the
    * cross-day variance sum, whose numerator Σ(D·tᵢ − Σt)² is then
    * exact integer again (DECIMAL(38,0) vs HUGEINT). One scan, one
    * day-level aggregate. */
  def jackknifeDays(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000000, 0).cast("long")).as("sv"))
    val tot = daily.agg(count(lit(1)).as("d"), sum("n").as("nn"),
      sum("sv").as("ss"))
    val loo = daily.crossJoin(broadcast(tot))
      .withColumn("tn",
        expr("cast(round(cast(ss - sv as double)/(nn - n)/1e6*1e9, 0) as bigint)"))
    loo.groupBy("d", "nn", "ss")
      .agg(sum("tn").as("st"),
        sum(expr("cast(tn as decimal(38,0)) * tn")).as("stt"))
      .select(col("d").as("n_days"),
        expr("round(cast(ss as double)/nn/1e6, 6)").as("mean_value"),
        expr("""round(sqrt((d - 1) * cast(cast(d as decimal(38,0))*stt
            - cast(st as decimal(38,0))*st as double)
          / (cast(d as double)*d)) / 1e9, 6)""").as("se_jack"))
  }

  /** #5al partial correlation of event value vs hour-of-day,
    * controlling for day-of-week — "is the hourly pattern real or
    * just the weekly cycle leaking through": r_vh·w from the three
    * pairwise correlations, each assembled from EXACT integer moments
    * (milli-unit values, arithmetic hour/dow axes — no locale-bearing
    * date functions) so every r is one deterministic double chain.
    * One scan, one 1-row aggregate. */
  def eventsPartialCorr(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir).select(
      round(col("value") * 1000, 0).cast("long").as("v"),
      expr("(unix_micros(ts) div 3600000000) % 24").as("h"),
      expr("((unix_micros(ts) div 86400000000) + 4) % 7").as("w"))
    val m = base.agg(count(lit(1)).as("n"),
      sum("v").as("s_v"), sum("h").as("s_h"), sum("w").as("s_w"),
      sum(expr("cast(v as decimal(38,0)) * v")).as("s_vv"),
      sum(expr("cast(h as decimal(38,0)) * h")).as("s_hh"),
      sum(expr("cast(w as decimal(38,0)) * w")).as("s_ww"),
      sum(expr("cast(v as decimal(38,0)) * h")).as("s_vh"),
      sum(expr("cast(v as decimal(38,0)) * w")).as("s_vw"),
      sum(expr("cast(h as decimal(38,0)) * w")).as("s_hw"))
    def rExpr(xy: String, x: String, y: String, xx: String, yy: String) =
      s"""(cast(cast(n as decimal(38,0))*$xy - cast($x as decimal(38,0))*$y as double)
        / sqrt(cast(cast(n as decimal(38,0))*$xx - cast($x as decimal(38,0))*$x as double)
          * cast(cast(n as decimal(38,0))*$yy - cast($y as decimal(38,0))*$y as double)))"""
    val rvh = rExpr("s_vh", "s_v", "s_h", "s_vv", "s_hh")
    val rvw = rExpr("s_vw", "s_v", "s_w", "s_vv", "s_ww")
    val rhw = rExpr("s_hw", "s_h", "s_w", "s_hh", "s_ww")
    m.select(col("n"),
      expr(s"round($rvh, 6)").as("r_vh"),
      expr(s"round($rvw, 6)").as("r_vw"),
      expr(s"round($rhw, 6)").as("r_hw"),
      expr(s"""round(($rvh - $rvw*$rhw)
        / sqrt((1 - $rvw*$rvw)*(1 - $rhw*$rhw)), 6)""").as("r_vh_given_w"))
  }

  /** #5am robust outlier screen per type: median + MAD instead of the
    * mean/σ the z-score family uses (one contaminated tail can't move
    * the fence). Values are exact integer milli-units; both medians
    * are the exact LOWER order statistic at rank (n+1) div 2, each
    * found through ChronoSplit's per-group bucketed order stats (no
    * unpartitioned sort); the 3·1.4826·MAD fence compares as the
    * integer cross-product |v−med|·10000 > mad·44478, so no float
    * enters the decision. Two order-stat passes over the scan. */
  def eventsMadOutliers(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChronoSplit
    val base = Tables.events(s, dir).select(col("event_type"), col("event_id"),
      round(col("value") * 1000, 0).cast("long").as("v"))
    val sizes = base.groupBy("event_type").agg(count(lit(1)).as("n"))
    val med = ChronoSplit
      .withOrderStats(base, "v", "event_id", partitionCols = Seq("event_type"))
      .join(broadcast(sizes), "event_type")
      .filter(col(ChronoSplit.RankCol) === expr("(n + 1) div 2"))
      .select(col("event_type"), col("v").as("med"))
    val dtab = base.join(broadcast(med), "event_type")
      .withColumn("dd", abs(col("v") - col("med")))
    val mad = ChronoSplit
      .withOrderStats(dtab.select("event_type", "event_id", "dd"),
        "dd", "event_id", partitionCols = Seq("event_type"))
      .join(broadcast(sizes), "event_type")
      .filter(col(ChronoSplit.RankCol) === expr("(n + 1) div 2"))
      .select(col("event_type"), col("dd").as("mad"))
    dtab.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("med").as("med_m"), max("mad").as("mad_m"),
        sum(when(col("dd") * 10000 > col("mad") * 44478, 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("event_type"), col("n"),
        expr("round(med_m/1e3, 3)").as("median"),
        expr("round(mad_m/1e3, 3)").as("mad"),
        col("n_outliers"),
        expr("round(cast(n_outliers as double)/n, 6)").as("outlier_share"))
      .orderBy("event_type")
  }

  /** #37n Simpson diversity of each source's token distribution — the
    * "probability two random tokens differ" concentration readout next
    * to [[sourceJsd]]'s pairwise divergences (ecology's 1−D, Herfindahl
    * in market terms). EXACT end to end: D = 1 − Σc(c−1)/(N(N−1)) is
    * all integer tallies (DECIMAL(38,0) vs HUGEINT) with one double
    * division at display. One token explode, one two-level agg. */
  def sourceSimpson(s: SparkSession, dir: String): DataFrame = {
    val lt = Tables.documents(s, dir)
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    lt.groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
        sum(expr("cast(c as decimal(38,0)) * (c - 1)")).as("num"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("""round(1 - cast(num as double)
          / cast(cast(n_tokens as decimal(38,0))*(n_tokens - 1) as double), 6)""")
          .as("simpson"))
      .orderBy("source")
  }

  /** #5an Cohen's d / Hedges' g effect size of the A/B value split —
    * the magnitude readout `ab_ttest`'s p-value deliberately isn't.
    * Same multiplicative-hash arms; per-arm moments are exact integer
    * micro-units (DECIMAL(38,0) squared sums), the pooled SD combines
    * the two arms' exact variance numerators explicitly (no cross-arm
    * float agg), and Hedges' small-sample factor is the standard
    * 1 − 3/(4df − 1). One scan, one 2×|types| aggregate. */
  def abEffectSize(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .select(col("event_type"),
        round(col("value") * 1000000, 0).cast("long").as("v"),
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L).as("arm"))
      .groupBy("event_type", "arm")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(expr("cast(v as decimal(38,0)) * v")).as("svv"))
      .withColumn("varnum",
        expr("cast(cast(n as decimal(38,0))*svv - cast(sv as decimal(38,0))*sv as double)/n"))
    val a = g.filter(col("arm") === 0).select(col("event_type"),
      col("n").as("n_a"), col("sv").as("sv_a"), col("varnum").as("vn_a"))
    val b = g.filter(col("arm") === 1).select(col("event_type"),
      col("n").as("n_b"), col("sv").as("sv_b"), col("varnum").as("vn_b"))
    a.join(b, "event_type")
      .withColumn("dlt",
        expr("cast(sv_b as double)/n_b - cast(sv_a as double)/n_a"))
      .withColumn("sp", expr("sqrt((vn_a + vn_b)/(n_a + n_b - 2))"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        expr("round(dlt/1e6, 6)").as("mean_diff"),
        expr("round(dlt/sp, 6)").as("cohens_d"),
        expr("round(dlt/sp * (1 - cast(3 as double)/(4*(n_a + n_b - 2) - 1)), 6)")
          .as("hedges_g"))
      .orderBy("event_type")
  }

  /** #5ao two-proportion z-test on the lineitem return rate between
    * the first and second shipdate halves — the categorical drift
    * companion to `drift_ks`'s continuous screen. Tallies are exact
    * integers; the pooled-SE z repeats one double chain on both
    * engines. One scan (the midpoint is a 1-row broadcast), one 2-row
    * aggregate folded wide. */
  def returnsZtest(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(expr("unix_micros(cast(l_shipdate as timestamp))").as("ts_us"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
    val mid = li.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    val halves = li.crossJoin(broadcast(mid))
      .groupBy(when(col("ts_us") <= col("mid"), 0L).otherwise(1L).as("half"))
      .agg(count(lit(1)).as("n"), sum("r").as("x"))
    val h0 = halves.filter(col("half") === 0)
      .select(col("n").as("n1"), col("x").as("x1"))
    val h1 = halves.filter(col("half") === 1)
      .select(col("n").as("n2"), col("x").as("x2"))
    h0.crossJoin(broadcast(h1))
      .withColumn("pp", expr("cast(x1 + x2 as double)/(n1 + n2)"))
      .select(col("n1"), col("x1"), col("n2"), col("x2"),
        expr("round(cast(x1 as double)/n1, 6)").as("p1"),
        expr("round(cast(x2 as double)/n2, 6)").as("p2"),
        expr("""round((cast(x1 as double)/n1 - cast(x2 as double)/n2)
          / sqrt(pp*(1 - pp)*(cast(1 as double)/n1 + cast(1 as double)/n2)), 6)""")
          .as("z"))
  }

  /** #5ap Hill tail-index estimator over the event-value upper tail —
    * "how heavy is the tail" in one number (α < 2 means infinite
    * variance and every mean-based readout above is suspect). The top
    * k = 100 order statistics are a deterministic TakeOrdered set
    * ((v DESC, event_id) total order, never a global sort); ln terms
    * round to nano units per row before the sum, and
    * α = (k−1) / Σ(ln xᵢ − ln x₍ₖ₎) is one double division. */
  def eventsTailIndex(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("event_id"), round(col("value") * 1000, 0).cast("long").as("v"))
      .filter(col("v") > 0)
    val top = base.orderBy(col("v").desc, col("event_id")).limit(100)
      .withColumn("lterm", expr("cast(round(ln(v)*1e9, 0) as bigint)"))
    // The k-th order statistic is the struct-min over (v, −event_id) —
    // the same row the (v DESC, event_id) total order ranks last — so
    // no window runs at all; Σ_{i<k}(ln xᵢ − ln xₖ) = lsum − k·ltermₖ.
    top.agg(count(lit(1)).as("k"), sum("lterm").as("lsum"),
        min(struct(col("v"), (-col("event_id")).as("nid"))).as("m"))
      .select(col("k"),
        expr("round(m.v/1e3, 3)").as("x_k"),
        expr("""round((k - 1)*1e9/cast(lsum
          - k*cast(round(ln(m.v)*1e9, 0) as bigint) as double), 6)""")
          .as("hill_alpha"))
  }

  /** #5aq delta-method ratio-metric A/B readout — the experimentation
    * staple for per-user ratio metrics (value per event): user-level
    * totals are the iid unit, R = Σx/Σy per arm, and the SE comes from
    * the delta-method expansion Var(R) ≈ (S²x − 2R·Sxy + R²·S²y)/(n·ȳ²)
    * with every (co)variance assembled from EXACT integer user-level
    * moments (DECIMAL(38,0) vs HUGEINT). The z for the arm difference
    * is one double chain. One scan → user agg → 2-row arm agg. */
  def abRatioDelta(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(s, dir)
      .select(col("user_id"),
        round(col("value") * 1000000, 0).cast("long").as("vmu"),
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L).as("arm"))
      .groupBy("arm", "user_id")
      .agg(sum("vmu").as("x"), count(lit(1)).as("y"))
    val g = u.groupBy("arm").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"))
      .withColumn("r", expr("cast(sx as double)/sy"))
      .withColumn("vx", expr(
        """case when n > 1 then cast(cast(n as decimal(38,0))*sxx
          - cast(sx as decimal(38,0))*sx as double)/n/(n - 1) end"""))
      .withColumn("vy", expr(
        """case when n > 1 then cast(cast(n as decimal(38,0))*syy
          - cast(sy as decimal(38,0))*sy as double)/n/(n - 1) end"""))
      .withColumn("cxy", expr(
        """case when n > 1 then cast(cast(n as decimal(38,0))*sxy
          - cast(sx as decimal(38,0))*sy as double)/n/(n - 1) end"""))
      .withColumn("se", expr(
        "sqrt((vx - 2*r*cxy + r*r*vy)/n)/(cast(sy as double)/n)"))
    val a = g.filter(col("arm") === 0).select(col("n").as("n_a"),
      col("r").as("r_a"), col("se").as("se_a"))
    val b = g.filter(col("arm") === 1).select(col("n").as("n_b"),
      col("r").as("r_b"), col("se").as("se_b"))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"),
        expr("round(r_a/1e6, 6)").as("ratio_a"),
        expr("round(r_b/1e6, 6)").as("ratio_b"),
        expr("round(se_a/1e6, 6)").as("se_ratio_a"),
        expr("round(se_b/1e6, 6)").as("se_ratio_b"),
        expr("round((r_b - r_a)/sqrt(se_a*se_a + se_b*se_b), 6)").as("z"))
  }

  /** #5ar quantile treatment effect at the median — the
    * distribution-shift readout mean-based A/B tests miss (a treatment
    * can move the median without moving the mean). Exact lower-median
    * order statistic per arm via ChronoSplit's per-group bucketed
    * order stats (no unpartitioned sort); the QTE is an integer
    * difference of integer milli-unit medians. */
  def abQte(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChronoSplit
    val base = Tables.events(s, dir)
      .select(col("event_id"), round(col("value") * 1000, 0).cast("long").as("v"),
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L).as("arm"))
    val sizes = base.groupBy("arm").agg(count(lit(1)).as("n"))
    val med = ChronoSplit
      .withOrderStats(base, "v", "event_id", partitionCols = Seq("arm"))
      .join(broadcast(sizes), "arm")
      .filter(col(ChronoSplit.RankCol) === expr("(n + 1) div 2"))
      .select(col("arm"), col("n"), col("v").as("med"))
    val a = med.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("med").as("med_a"))
    val b = med.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("med").as("med_b"))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"),
        expr("round(med_a/1e3, 3)").as("median_a"),
        expr("round(med_b/1e3, 3)").as("median_b"),
        expr("round((med_b - med_a)/1e3, 3)").as("qte_median"))
  }

  /** #5as Haar wavelet detail energy of the hourly volume series at
    * scales 2/4/8 hours — the multi-resolution companion to
    * [[eventsHurst]]: which timescale carries the variation (bursty
    * hours vs shift-of-day swings). Hour ranks index the observed
    * series; each scale's detail coefficient is an EXACT signed
    * integer block sum (first half minus second half), incomplete
    * trailing blocks are dropped by the exact block-size gate, and
    * energies are exact DECIMAL(38,0) squared sums. The only window
    * ranks the post-aggregate hourly set. */
  def eventsWaveletEnergy(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("x"))
    val idx = hourly.withColumn("i",
      row_number().over(Window.orderBy("hour_us")).cast("long") - 1)
    val scales = (1 to 3).map { j =>
      val bs = 1L << j
      idx.withColumn("scale", lit(j.toLong))
        .withColumn("b", expr(s"i div $bs"))
        .withColumn("t", expr(
          s"case when (i div ${bs / 2}) % 2 = 0 then x else -x end"))
        .groupBy("scale", "b")
        .agg(count(lit(1)).as("cnt"), sum("t").as("d"))
        .filter(col("cnt") === bs)
    }.reduce(_ unionAll _)
    val per = scales.groupBy("scale")
      .agg(count(lit(1)).as("n_blocks"),
        sum(expr("cast(d as decimal(38,0)) * d")).as("energy"))
    val tot = per.agg(sum("energy").as("etot"))
    per.crossJoin(broadcast(tot))
      .select(col("scale"), col("n_blocks"),
        col("energy").cast("long").as("energy"),
        expr("""case when etot <> 0 then
          round(cast(energy as double)/cast(etot as double), 6) end""")
          .as("energy_share"))
      .orderBy("scale")
  }

  /** #5at Theil's uncertainty coefficient between event type and
    * hour-of-day — the normalized, directional "how much does knowing
    * the hour tell you about the type" readout (U(X|Y) = MI/H(X)) that
    * `mi_matrix`'s raw nats don't give. Entropies assemble from exact
    * cell counts via H = ln N − (Σ c·ln c)/N with each c·ln c term
    * nano-rounded BEFORE its (at most 120-cell) sum; MI and both U
    * directions are single double chains. One scan, one cell-grid
    * aggregate. */
  def eventsUncertaintyCoef(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type").as("x"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("y"))
      .agg(count(lit(1)).as("c"))
    val agg = cells
      .withColumn("lxy", expr("cast(round(c*ln(c)*1e9, 0) as bigint)"))
      .agg(sum("c").as("n"), sum("lxy").as("sxy"))
    val lx = cells.groupBy("x").agg(sum("c").as("cx"))
      .agg(sum(expr("cast(round(cx*ln(cx)*1e9, 0) as bigint)")).as("sx"))
    val ly = cells.groupBy("y").agg(sum("c").as("cy"))
      .agg(sum(expr("cast(round(cy*ln(cy)*1e9, 0) as bigint)")).as("sy"))
    agg.crossJoin(broadcast(lx)).crossJoin(broadcast(ly))
      .withColumn("hx", expr("ln(n) - sx/1e9/n"))
      .withColumn("hy", expr("ln(n) - sy/1e9/n"))
      .withColumn("hxy", expr("ln(n) - sxy/1e9/n"))
      .select(col("n"),
        expr("round(hx, 6)").as("h_type"),
        expr("round(hy, 6)").as("h_hour"),
        expr("round(hx + hy - hxy, 6)").as("mi"),
        expr("round((hx + hy - hxy)/hx, 6)").as("u_type_given_hour"),
        expr("round((hx + hy - hxy)/hy, 6)").as("u_hour_given_type"))
  }

  /** #5au tail-latency ratio per type — P50/P90/P99 as exact LOWER
    * order statistics at the ceil(p·n) ranks (no interpolation, no
    * approx sketch) plus the SRE "how fat is the tail" P99/P50 ratio.
    * All three ranks come out of ONE per-group bucketed order-stats
    * pass; the ratio is one exact-integer division. */
  def eventsTailRatio(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChronoSplit
    val base = Tables.events(s, dir).select(col("event_type"), col("event_id"),
      round(col("value") * 1000, 0).cast("long").as("v"))
    val sizes = base.groupBy("event_type").agg(count(lit(1)).as("n"))
    val ranked = ChronoSplit
      .withOrderStats(base, "v", "event_id", partitionCols = Seq("event_type"))
      .join(broadcast(sizes), "event_type")
    val picked = ranked.filter(
      col(ChronoSplit.RankCol) === expr("(n + 1) div 2")
        || col(ChronoSplit.RankCol) === expr("(9*n + 9) div 10")
        || col(ChronoSplit.RankCol) === expr("(99*n + 99) div 100"))
    picked.groupBy("event_type")
      .agg(max("n").as("n"),
        max(when(col(ChronoSplit.RankCol) === expr("(n + 1) div 2"), col("v")))
          .as("p50_m"),
        max(when(col(ChronoSplit.RankCol) === expr("(9*n + 9) div 10"), col("v")))
          .as("p90_m"),
        max(when(col(ChronoSplit.RankCol) === expr("(99*n + 99) div 100"), col("v")))
          .as("p99_m"))
      .select(col("event_type"), col("n"),
        expr("round(p50_m/1e3, 3)").as("p50"),
        expr("round(p90_m/1e3, 3)").as("p90"),
        expr("round(p99_m/1e3, 3)").as("p99"),
        expr("case when p50_m > 0 then round(cast(p99_m as double)/p50_m, 6) end")
          .as("tail_ratio_99_50"))
      .orderBy("event_type")
  }

  /** #5av capture–recapture (Chapman) population estimate — "how many
    * users exist that we never saw": the two time halves act as two
    * sightings, N̂ = (n₁+1)(n₂+1)/(m+1) − 1 from exact distinct
    * counts, with the implied undercount of the observed union. The
    * same estimator a dedup pipeline uses to size the true entity
    * count from two independent match passes. */
  def populationEstimate(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    val halves = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(max(when(col("ts_us") <= col("mid"), 1L).otherwise(0L)).as("h1"),
        max(when(col("ts_us") > col("mid"), 1L).otherwise(0L)).as("h2"))
    halves.agg(sum("h1").as("n1"), sum("h2").as("n2"),
        sum(col("h1") * col("h2")).as("m"), count(lit(1)).as("observed"))
      .select(col("n1"), col("n2"), col("m"), col("observed"),
        expr("round(cast((n1 + 1) as double)*(n2 + 1)/(m + 1) - 1, 2)")
          .as("chapman_estimate"),
        expr("round(cast((n1 + 1) as double)*(n2 + 1)/(m + 1) - 1 - observed, 2)")
          .as("implied_unseen"))
  }

  /** #1j hash-bucket collision audit — does the repo's md5 keyspace
    * hash actually spread keys like a uniform hash (the assumption
    * under every salting/bucketing choice above): observed same-bucket
    * pair count Σc(c−1)/2 over 1024 buckets against the birthday
    * expectation n(n−1)/2B, as one exact-integer-ratio double. */
  def hashCollisionAudit(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.customer(s, dir)
      .select(expr(
        "conv(substring(md5(cast(c_custkey as string)), 1, 15), 16, 10) % 1024")
        .cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
    b.agg(sum("c").as("n"), count(lit(1)).as("occupied"),
        max("c").as("max_bucket"),
        sum(expr("c * (c - 1) div 2")).as("obs_collisions"))
      .select(col("n"), lit(1024L).as("n_buckets"), col("occupied"),
        col("max_bucket"), col("obs_collisions"),
        expr("round(cast(n as double)*(n - 1)/2/1024, 6)").as("exp_collisions"),
        expr("""round(cast(obs_collisions as double)
          / (cast(n as double)*(n - 1)/2/1024), 6)""").as("collision_ratio"))
  }

  /** #5aw time-delayed mutual information of the hourly volume series
    * at lags 1 h and 24 h — the NONLINEAR dependence screen the linear
    * ACF ([[graft.queries.OpsQueries.eventsAcf]]) can't see: hours
    * quartile-binned (exact ntile over (count, hour) order), joint
    * (bin_t, bin_{t−k}) cells tallied exactly, and MI assembled as
    * H(X)+H(Y)−H(XY) with every c·ln c term nano-rounded before its
    * ≤16-cell sum. All windows run over the post-aggregate hourly
    * set. */
  def eventsLaggedMi(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("x"))
    val binned = hourly.withColumn("bin",
      ntile(4).over(Window.orderBy(col("x"), col("hour_us"))).cast("long"))
    val w = Window.orderBy("hour_us")
    val lagged = Seq(1, 24).map { k =>
      binned.withColumn("prev", lag("bin", k).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("lag", lit(k.toLong))
    }.reduce(_ unionAll _)
    val cells = lagged.groupBy("lag", "bin", "prev").agg(count(lit(1)).as("c"))
    def nano(c: String) = s"cast(round($c*ln($c)*1e9, 0) as bigint)"
    val a = cells.groupBy("lag")
      .agg(sum("c").as("n"), sum(expr(nano("c"))).as("sxy"))
    val bx = cells.groupBy("lag", "bin").agg(sum("c").as("cx"))
      .groupBy("lag").agg(sum(expr(nano("cx"))).as("sx"))
    val by = cells.groupBy("lag", "prev").agg(sum("c").as("cy"))
      .groupBy("lag").agg(sum(expr(nano("cy"))).as("sy"))
    a.join(bx, "lag").join(by, "lag")
      .select(col("lag"), col("n").as("n_pairs"),
        expr("round((ln(n) - sx/1e9/n) + (ln(n) - sy/1e9/n) - (ln(n) - sxy/1e9/n), 6)")
          .as("mi_nats"))
      .orderBy("lag")
  }

  /** #16g logistic regression by three Newton–Raphson iterations —
    * P(purchase | value) fit distributedly: each iteration aggregates
    * the gradient and Hessian with every per-row term rounded to
    * integer NANO units BEFORE the sum (round-then-sum — a 1000-way
    * partial aggregation cannot move a digit), then solves the 2×2
    * system in closed form on the driver. The weights re-enter the
    * next scan as literals (shortest-roundtrip doubles, exact), and
    * the oracle replays the identical three unrolled iterations, so
    * engine and DuckDB walk bit-identical weight trajectories. Three
    * scans total; no collect beyond six scalars per iteration. */
  def logisticNewton(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir).select(
      when(col("event_type") === "purchase", 1.0d).otherwise(0.0d).as("y"),
      expr("cast(round(value*1000, 0) as bigint)/1e3/100").as("x"))
    var w0 = 0.0d
    var w1 = 0.0d
    for (_ <- 1 to 3) {
      val p = s"(1/(1 + exp(-(${w0}) - (${w1})*x)))"
      val r = base.agg(
        count(lit(1)).as("n"),
        sum(expr(s"cast(round((y - $p)*1e9, 0) as bigint)")).as("g0"),
        sum(expr(s"cast(round((y - $p)*x*1e9, 0) as bigint)")).as("g1"),
        sum(expr(s"cast(round($p*(1 - $p)*1e9, 0) as bigint)")).as("h00"),
        sum(expr(s"cast(round($p*(1 - $p)*x*1e9, 0) as bigint)")).as("h01"),
        sum(expr(s"cast(round($p*(1 - $p)*x*x*1e9, 0) as bigint)")).as("h11"))
        .head()
      val (g0, g1) = (r.getLong(1) / 1e9, r.getLong(2) / 1e9)
      val (h00, h01, h11) = (r.getLong(3) / 1e9, r.getLong(4) / 1e9, r.getLong(5) / 1e9)
      val det = h00 * h11 - h01 * h01
      w0 = w0 + (g0 * h11 - g1 * h01) / det
      w1 = w1 + (h00 * g1 - h01 * g0) / det
    }
    val pf = s"(1/(1 + exp(-(${w0}) - (${w1})*x)))"
    base.agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        sum(expr(s"cast(round($pf*1e9, 0) as bigint)")).as("sp"))
      .select(col("n"), col("n_pos").cast("long").as("n_pos"),
        lit(BigDecimal(w0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          .as("w0"),
        lit(BigDecimal(w1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          .as("w1"),
        expr("round(sp/1e9/n, 6)").as("mean_p"))
  }

  /** #5ax two-model uplift by activity band + Qini curve — the
    * incrementality readout behind "whom should we even target":
    * users band into 5 exact ntiles of train-half activity, each
    * band's uplift (treated minus control train conversion rate)
    * ranks the bands, and the test half walks the ranked bands
    * accumulating incremental conversions
    * Qini_k = Σyt − Σyc·Σnt/Σnc. Bands, tallies and cumulative sums
    * are exact integers (the only windows run over the 5-row band
    * table); each readout is one double chain. Users with no train
    * activity are excluded (no band to target by). */
  def upliftQini(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChronoSplit
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    val sided = ev.crossJoin(broadcast(mid))
      .withColumn("side", when(col("ts_us") <= col("mid"), 0L).otherwise(1L))
    val users = sided.groupBy("user_id")
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_train"),
        max(when(col("side") === 0 && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("y_train"),
        max(when(col("side") === 1 && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("y_test"))
      .filter(col("n_train") > 0)
      .withColumn("arm",
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L))
      .withColumn("neg_act", -col("n_train"))
    val banded = ChronoSplit.withNtile(users, "neg_act", "user_id", 5, "band")
    val bands = banded.groupBy("band").agg(
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("arm") === 1, col("y_train")).otherwise(0L)).as("yt_tr"),
      sum(when(col("arm") === 0, col("y_train")).otherwise(0L)).as("yc_tr"),
      sum(when(col("arm") === 1, col("y_test")).otherwise(0L)).as("yt"),
      sum(when(col("arm") === 0, col("y_test")).otherwise(0L)).as("yc"))
      .withColumn("uplift_train", expr(
        """case when nt > 0 and nc > 0
          then cast(yt_tr as double)/nt - cast(yc_tr as double)/nc
          else cast(-1 as double) end"""))
    val w = Window.orderBy(col("uplift_train").desc, col("band"))
    val wc = Window.orderBy(col("uplift_train").desc, col("band"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bands
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cnt", sum("nt").over(wc))
      .withColumn("cnc", sum("nc").over(wc))
      .withColumn("cyt", sum("yt").over(wc))
      .withColumn("cyc", sum("yc").over(wc))
      .select(col("rank"), col("band"), col("nt"), col("nc"),
        expr("round(uplift_train, 6)").as("uplift_train"),
        expr("""case when cnc > 0
          then round(cyt - cast(cyc as double)*cnt/cnc, 6) end""").as("qini_test"))
      .orderBy("rank")
  }

  /** #5ay O'Brien–Fleming group-sequential A/B test at four equally
    * spaced looks — the interim-analysis discipline `ab_sprt`'s
    * fully-sequential walk doesn't model: the pooled two-proportion z
    * at each quarter of arrival order against the classic OBF
    * boundaries (4.049, 2.863, 2.337, 2.024). Arrival ranks come from
    * the bucketed order stats (no single-task sort); all tallies are
    * exact integers and each look's z is one double chain. */
  def abGroupSequential(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChronoSplit
    val ev = Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        when(col("value") > 50.0, 1L).otherwise(0L).as("x"),
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L).as("arm"))
    val n = ev.agg(count(lit(1)).as("n_all"))
    val ranked = ChronoSplit.withOrderStats(ev, "ts_us", "event_id")
      .crossJoin(broadcast(n))
      .withColumn("look",
        expr(s"(${ChronoSplit.RankCol} - 1) * 4 div n_all + 1"))
    val perLook = ranked.groupBy("look", "arm")
      .agg(count(lit(1)).as("n"), sum("x").as("xs"))
    val wl = Window.partitionBy("arm").orderBy("look")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = perLook
      .withColumn("cn", sum("n").over(wl))
      .withColumn("cx", sum("xs").over(wl))
    val a = cum.filter(col("arm") === 0)
      .select(col("look"), col("cn").as("n_a"), col("cx").as("x_a"))
    val b = cum.filter(col("arm") === 1)
      .select(col("look"), col("cn").as("n_b"), col("cx").as("x_b"))
    val bounds = "case look when 1 then 4.049 when 2 then 2.863 " +
      "when 3 then 2.337 else 2.024 end"
    a.join(b, "look")
      .withColumn("pp", expr("cast(x_a + x_b as double)/(n_a + n_b)"))
      .withColumn("z", expr(
        """(cast(x_b as double)/n_b - cast(x_a as double)/n_a)
          / sqrt(pp*(1 - pp)*(cast(1 as double)/n_a + cast(1 as double)/n_b))"""))
      .select(col("look"), col("n_a"), col("n_b"),
        expr("round(z, 6)").as("z"),
        expr(s"cast($bounds as double)").as("obf_boundary"),
        expr(s"abs(z) >= cast($bounds as double)").as("crossed"))
      .orderBy("look")
  }

  /** #5az negative-binomial moment fit of hourly counts per type —
    * the model upgrade [[eventsDispersion]]'s D ≫ 1 verdict calls for:
    * method-of-moments r̂ = μ²/(s² − μ), p̂ = μ/s² from EXACT integer
    * count moments (sample variance via the n·Σx² − S² numerator),
    * with the Poisson-or-better case (s² ≤ μ) surfacing NULL fits
    * rather than a negative r. One scan, one hourly aggregate, one
    * k-row reduce. */
  def eventsNegbin(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
      .withColumn("mu", expr("cast(sx as double)/n"))
      .withColumn("s2", expr(
        """case when n > 1 then
          cast(cast(n as decimal(38,0))*sxx - cast(sx as decimal(38,0))*sx as double)
          /n/(n - 1) end"""))
      .select(col("event_type"), col("n").as("n_hours"),
        expr("round(mu, 6)").as("mean_rate"),
        expr("round(s2, 6)").as("var_rate"),
        expr("case when s2 > mu then round(mu*mu/(s2 - mu), 6) end").as("r_hat"),
        expr("case when s2 > mu then round(mu/s2, 6) end").as("p_hat"))
      .orderBy("event_type")
  }

  /** #5ba Jarque-Bera normality screen of the hourly count series per
    * type — the moment-based test behind "is this rate Gaussian enough
    * for z-score alerting" ([[eventsAnomaly]]'s implicit assumption).
    * All four raw moments accumulate as EXACT integers; the central-
    * moment numerators A2 = n·Σx²−S², A3 = n²·Σx³−3n·S·Σx²+2S³,
    * A4 = n³·Σx⁴−4n²·S·Σx³+6n·S²·Σx²−3S⁴ are exact DECIMAL(38,0)
    * algebra, and the n-powers cancel so skew = A3/A2^1.5 and
    * kurtosis = A4/A2² need no float moment at all — one double chain
    * each, identical on both engines. */
  def eventsJarqueBera(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("s2"),
        sum(expr("cast(x as decimal(38,0)) * x * x")).as("s3"),
        sum(expr("cast(x as decimal(38,0)) * x * x * x")).as("s4"))
      .withColumn("a2", expr("cast(n as decimal(38,0))*s2 - cast(sx as decimal(38,0))*sx"))
      .withColumn("a3", expr(
        """cast(n as decimal(38,0))*n*s3 - 3*cast(n as decimal(38,0))*sx*s2
          + 2*cast(sx as decimal(38,0))*sx*sx"""))
      .withColumn("a4", expr(
        """cast(n as decimal(38,0))*n*n*s4 - 4*cast(n as decimal(38,0))*n*sx*s3
          + 6*cast(n as decimal(38,0))*sx*sx*s2 - 3*cast(sx as decimal(38,0))*sx*sx*sx"""))
      .withColumn("sk", expr(
        """case when a2 > 0 then
          cast(a3 as double)/(cast(a2 as double)*sqrt(cast(a2 as double))) end"""))
      .withColumn("ku", expr(
        """case when a2 > 0 then
          cast(a4 as double)/(cast(a2 as double)*cast(a2 as double)) - 3 end"""))
      .select(col("event_type"), col("n").as("n_hours"),
        expr("round(sk, 6)").as("skewness"),
        expr("round(ku, 6)").as("ex_kurtosis"),
        expr("round(cast(n as double)/6*(sk*sk + ku*ku/4), 6)").as("jb"))
      .orderBy("event_type")
  }

  /** #5bb maximum drawdown of the cumulative hourly net value per type
    * — the risk readout a mean/variance profile hides: the deepest
    * peak-to-trough drop of the running total. Values ride the
    * integer-micros grid (`round(value·1e6)` longs), so the running
    * sum, running max, and their difference are all order-exact
    * integers; the trough hour is elected by (depth DESC, hour ASC) —
    * round-then-rank with an integer key. Windows are partitioned by
    * type over the hourly rollup, never raw rows. */
  def eventsDrawdown(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(sum(expr("cast(round(value*1e6) as bigint)")).as("f"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    val dd = hourly
      .withColumn("cum", sum("f").over(w))
      .withColumn("runmax", max("cum").over(w))
      .withColumn("dd", col("runmax") - col("cum"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("dd").desc, col("h"))))
    dd.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        max(when(col("rn") === 1, col("h"))).as("trough_h"),
        max(when(col("rn") === 1, col("dd"))).as("dd_us"))
      .select(col("event_type"), col("n_hours"), col("trough_h"),
        expr("round(dd_us/1e6, 6)").as("max_drawdown"))
      .orderBy("event_type")
  }

  /** #5bc Bollinger-band breakout screen on the hourly count series —
    * the trailing-24h ±2σ envelope. The full-window gate (rn ≥ 24) and
    * both band tests run on EXACT integer window sums: a breakout is
    * |24·x − Σx| vs 2·√((24·Σx² − (Σx)²)·24/23) — one sqrt over an
    * integer, so the boolean cannot drift between engines. Emits the
    * per-type breakout tally and the last breakout hour. */
  def eventsBollinger(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val wf = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(-23, 0)
    val wr = Window.partitionBy("event_type").orderBy("h")
    val b = hourly
      .withColumn("sw", sum("x").over(wf))
      .withColumn("sw2", sum(expr("cast(x as decimal(38,0)) * x")).over(wf))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") >= 24)
      .withColumn("dev", expr("cast(24*x - sw as double)"))
      .withColumn("band", expr(
        "2*sqrt(cast(24*sw2 - cast(sw as decimal(38,0))*sw as double)*24/23)"))
    b.groupBy("event_type")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("dev") > col("band"), 1L).otherwise(0L)).as("n_upper"),
        sum(when(col("dev") < -col("band"), 1L).otherwise(0L)).as("n_lower"),
        max(when(abs(col("dev")) > col("band"), col("h"))).as("last_breakout_h"))
      .orderBy("event_type")
  }

  /** #5bd Grubbs outlier statistic per type — "is the single most
    * extreme hour too extreme for a Gaussian rate": G = max|x−x̄|/s.
    * The deviation ranking happens on the EXACT integer |n·x − S| (no
    * float compare elects the outlier), the elected hour breaks ties
    * toward the earliest, and G itself is one double chain over the
    * integer maximum and the exact variance numerator A2. */
  def grubbsTest(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val st = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("s2"))
      .withColumn("a2", expr("cast(n as decimal(38,0))*s2 - cast(sx as decimal(38,0))*sx"))
    val dev = hourly.join(broadcast(st), "event_type")
      .withColumn("d", expr("abs(cast(n as decimal(38,0))*x - sx)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("d").desc, col("h"))))
      .filter(col("rn") === 1)
    dev.select(col("event_type"), col("n").as("n_hours"),
        col("h").as("outlier_h"), col("x").as("x_out"),
        expr("""case when n > 1 and a2 > 0 then round(cast(d as double)/n
          / sqrt(cast(a2 as double)/n/(n - 1)), 6) end""").as("g_stat"))
      .orderBy("event_type")
  }

  /** #37u G-test of independence on the lang × source grid — the
    * likelihood-ratio companion to [[graft.queries.OpsQueries.corpusChi2]]
    * (preferred when cells are small, since G sums o·ln(o/e) instead of
    * squared-deviation ratios). Every ln argument is a pure integer
    * ratio o·n/(rt·ct); each cell's term rounds to nano units BEFORE
    * the sum, so engines add identical longs. Empty cells contribute
    * zero by convention and never enter (no ln(0)). */
  def corpusGtest(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val obs = d.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rowT = d.groupBy("lang").agg(count(lit(1)).as("rt"))
    val colT = d.groupBy("source").agg(count(lit(1)).as("ct"))
    val tot = d.agg(count(lit(1)).as("n"))
    obs.join(broadcast(rowT), "lang")
      .join(broadcast(colT), "source")
      .crossJoin(broadcast(tot))
      .withColumn("t_nano", expr(
        "cast(round(o*ln(cast(o as double)*n/(cast(rt as double)*ct))*1e9) as bigint)"))
      .agg(
        round(sum("t_nano") * 2 / 1e9, 6).as("g_stat"),
        ((countDistinct("lang") - 1) * (countDistinct("source") - 1)).as("dof"),
        max("n").as("n_docs"))
  }

  /** #5be sample-ratio-mismatch guardrail — the first thing to check
    * before reading ANY A/B result: do the arm sizes match the design's
    * 50/50? Assignment is the deterministic user-hash both A/B queries
    * share; the one-dof chi-square collapses to (n_a−n_b)²/(n_a+n_b),
    * computed as a single double division over exact integer user
    * counts, and the flag compares against the χ²₁ 95% literal. */
  def abSrm(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir).select("user_id").distinct()
      .withColumn("arm",
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L))
    users.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .withColumn("chi2", expr(
        "cast((n_a - n_b)*(n_a - n_b) as double)/(n_a + n_b)"))
      .select(col("n_a"), col("n_b"),
        expr("round(chi2, 6)").as("chi2"),
        expr("round((n_a - n_b)/sqrt(cast(n_a + n_b as double)), 6)").as("z"),
        expr("chi2 > 3.841459").as("srm_flag"))
  }

  /** #5bf two-arm log-rank test over the censored user lifetimes —
    * "do the two cohorts' survival curves differ", the hypothesis test
    * [[survivalKm]]'s curves only display. Arms are the shared
    * deterministic user hash; lifetimes/censoring mirror the KM query.
    * At each death day the hypergeometric expectation d·n₁/n and
    * variance d·n₁·n₂·(n−d)/(n²(n−1)) are rationals over exact integer
    * at-risk tallies — each rounds to nano units before its sum. */
  def logrankTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val horizon = ev.agg(max("ts_us").as("h_end"))
    val life = ev.groupBy("user_id")
      .agg(min("ts_us").as("first_us"), max("ts_us").as("last_us"))
      .crossJoin(broadcast(horizon))
      .withColumn("k", expr("(last_us - first_us) div 86400000000"))
      .withColumn("censored", col("last_us") >= col("h_end") - 86400000000L)
      .withColumn("arm",
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L))
    val deaths = life.filter(!col("censored"))
      .groupBy("k")
      .agg(count(lit(1)).as("d"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("d1"))
    val atRisk = life.crossJoin(broadcast(deaths.select(col("k").as("gk"))))
      .filter(col("k") >= col("gk"))
      .groupBy(col("gk").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"))
    val terms = deaths.join(atRisk, "k")
      .withColumn("e_nano", expr(
        "cast(round(cast(d as double)*n1/n*1e9) as bigint)"))
      .withColumn("v_nano", expr(
        """case when n > 1 then cast(round(cast(d as double)*n1*(n - n1)*(n - d)
          /(cast(n as double)*n*(n - 1))*1e9) as bigint)
          else cast(0 as bigint) end"""))
    terms.agg(sum("d1").as("o1"), sum("e_nano").as("se"), sum("v_nano").as("sv"),
        count(lit(1)).as("n_death_days"))
      .select(col("n_death_days"), col("o1"),
        expr("round(se/1e9, 6)").as("e1"),
        expr("round(sv/1e9, 6)").as("v"),
        expr("case when sv > 0 then round((o1 - se/1e9)/sqrt(sv/1e9), 6) end")
          .as("z"))
  }

  /** #5bg Cramér–von Mises uniformity test of the time-of-day
    * distribution per type — the integrated-squared-CDF-gap companion
    * to [[graft.queries.OpsQueries.driftKs]]'s sup-gap: W² = 1/(12n) +
    * Σᵢ(u₍ᵢ₎−(2i−1)/(2n))². Ranks come from the bucketed per-group
    * order stats over the DISTINCT microsecond-of-day table (never an
    * unpartitioned window); a run of t tied values expands in closed
    * form over Σ(2i−1) = t(2·lt+t) and Σ(2i−1)² — exact integers —
    * and each distinct value's term rounds to nano units pre-sum. */
  def eventsCvm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        (unix_micros(col("ts")) % lit(86400000000L)).as("m"))
    val tv = ev.groupBy("event_type", "m").agg(count(lit(1)).as("t"))
    val rk = graft.ops.ChronoSplit
      .withOrderStats(tv, "m", "m", partitionCols = Seq("event_type"),
        sumCols = Seq("t"), withRank = false)
      .withColumn("lt", col(graft.ops.ChronoSplit.cumCol("t")) - col("t"))
    val nTot = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    rk.join(broadcast(nTot), "event_type")
      .withColumn("s1", expr("t*(2*lt + t)"))
      .withColumn("s2", expr(
        """4*((cast(lt as decimal(38,0)) + t)*(lt + t + 1)*(2*(lt + t) + 1)
          - cast(lt as decimal(38,0))*(lt + 1)*(2*lt + 1)) div 6
          - 2*(cast(t as decimal(38,0))*(2*lt + t + 1)) + t"""))
      .withColumn("term_nano", expr(
        """cast(round((t*(cast(m as double)/86400000000*m/86400000000)
          - cast(m as double)/86400000000*s1/n
          + cast(s2 as double)/(4*cast(n as double)*n))*1e9) as bigint)"""))
      .groupBy("event_type")
      .agg(max("n").as("n_events"), sum("term_nano").as("st"))
      .select(col("event_type"), col("n_events"),
        expr("round(1/(12*cast(n_events as double)) + st/1e9, 6)").as("w2"))
      .orderBy("event_type")
  }

  /** #37v log₂-histogram quantiles with an in-query error certificate
    * — the mergeable fixed-width sketch for "good-enough percentiles
    * in one cheap pass" (HDR-histogram's idea on the binary grid):
    * bucket = ⌊log₂ v⌋ via the EXACT string length of bin(v) (no float
    * log can straddle a power of two), the p50 estimate is the elected
    * bucket's upper edge, and the certificate proves the EXACT lower
    * median (bucketed per-group order stats) lands in that bucket —
    * the sketch's error bound holds by construction, and the query
    * shows it. */
  def logbinQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChronoSplit
    val ev = Tables.events(s, dir)
      .select(col("event_type"), expr("cast(round(value*1e6) as bigint)").as("v"))
      .filter(col("v") >= 1L)
    val hist = ev.withColumn("bucket", expr("length(bin(v)) - 1"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("c"))
    val n = hist.groupBy("event_type").agg(sum("c").as("n"))
    val wb = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val bp = hist.withColumn("cum", sum("c").over(wb))
      .join(broadcast(n), "event_type")
      .filter(expr("cum >= (n + 1) div 2"))
      .groupBy("event_type").agg(min("bucket").as("bucket_p50"))
    val tv = ev.groupBy("event_type", "v").agg(count(lit(1)).as("t"))
    val xp = ChronoSplit.withOrderStats(tv, "v", "v",
        partitionCols = Seq("event_type"), sumCols = Seq("t"), withRank = false)
      .join(broadcast(n), "event_type")
      .filter(col(ChronoSplit.cumCol("t")) >= expr("(n + 1) div 2"))
      .groupBy("event_type").agg(min("v").as("exact_v"))
    n.join(broadcast(bp), "event_type").join(broadcast(xp), "event_type")
      .select(col("event_type"), col("n").as("n_values"), col("bucket_p50"),
        expr("round((shiftleft(cast(1 as bigint), bucket_p50 + 1) - 1)/1e6, 6)")
          .as("est_p50"),
        expr("round(exact_v/1e6, 6)").as("exact_p50"),
        expr("(length(bin(exact_v)) - 1) = bucket_p50").as("certified"))
      .orderBy("event_type")
  }

  /** #19ac personalized PageRank from a seed item — "what belongs in
    * THIS item's neighborhood" (global [[graft.ops.PageRank]] answers
    * popularity; recommendations need locality): teleport mass returns
    * to the seed alone. Five unrolled rounds on the PICO-integer grid
    * (the textrank discipline — every spread and damping step rounds
    * to integer picos, so both engines walk identical longs); seed =
    * min co-purchase item; top-20 by (mass, item). */
  def graphPpr(s: SparkSession, dir: String): DataFrame = {
    val pr = OpsQueries.coocPairs(s, dir)
      .select(col("item_a").as("sv"), col("item_b").as("tv"))
    val e = pr.unionAll(pr.select(col("tv").as("sv"), col("sv").as("tv")))
      .transform(Tables.checkpoint)
    val deg = e.groupBy("sv").agg(count(lit(1)).as("d")).transform(Tables.checkpoint)
    val seedRow = e.agg(min("sv")).head
    if (seedRow.isNullAt(0)) {
      return s.range(0).select(col("id").as("item"),
        col("id").as("pp_pico"), lit(0.0).as("ppr"))
    }
    val seed = seedRow.getLong(0)
    // Degrees attach to the edge list ONCE, outside the walk, via a
    // row-count-gated broadcast of the degree table (§3.1); inside the
    // loop the mass vector joins the pre-degreed edges the same way —
    // after a localCheckpoint its LogicalRDD size estimate is unknown,
    // so without a hint each of the 5 iterations planned sort-merge
    // joins that re-shuffled the edge list twice (§2.4). Both frames are
    // checkpointed, so the gating counts are metadata-cheap; at a scale
    // where they outgrow the broadcast limit the joins degrade to the
    // old shuffled form instead of OOMing the driver. Per iteration
    // exactly one exchange remains (the groupBy(tv) aggregation).
    // Integer sums ⇒ bit-identical mass at every step.
    val ed = e.join(graft.Tables.broadcastIfSmall(deg), "sv")
    var p = e.sparkSession.range(1)
      .select(lit(seed).as("v"), lit(1000000000000L).as("pp"))
    for (_ <- 1 to 5) {
      val spread = ed.join(graft.Tables.broadcastIfSmall(p), col("sv") === col("v"))
        .groupBy(col("tv"))
        .agg(sum(expr("cast(round(cast(pp as double)/d) as bigint)")).as("m"))
        .select(col("tv").as("v"),
          expr("cast(round(0.85*m) as bigint)").as("pp"))
      p = spread
        .unionAll(e.sparkSession.range(1)
          .select(lit(seed).as("v"), lit(150000000000L).as("pp")))
        .groupBy("v").agg(sum("pp").as("pp"))
        .transform(Tables.checkpoint)
    }
    p.orderBy(col("pp").desc, col("v"))
      .limit(20)
      .select(col("v").as("item"), col("pp").as("pp_pico"),
        expr("round(pp/1e12, 6)").as("ppr"))
  }

  /** #5bq extremal index of the hourly rate series — "do extreme hours
    * arrive alone or in storms": θ ≈ clusters/exceedances under runs
    * declustering (consecutive-hour exceedances form one cluster; any
    * calendar gap starts a new one). The threshold is the exact 90th-
    * percentile ORDER STATISTIC (rank ⌈0.9n⌉ with an (x, h) tie-break),
    * exceedance is a strict integer compare, and θ divides once. */
  def extremalIndex(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val sizes = hourly.groupBy("event_type").agg(count(lit(1)).as("ng"))
    val ranked = hourly.withColumn("rn", row_number().over(
      Window.partitionBy("event_type").orderBy("x", "h")))
    val thr = ranked.join(broadcast(sizes), "event_type")
      .filter(expr("rn = (9*ng + 9) div 10"))
      .select(col("event_type"), col("x").as("u"), col("ng"))
    val exc = hourly.join(broadcast(thr), "event_type")
      .filter(col("x") > col("u"))
    val runs = exc.withColumn("newc", expr(
        "case when lag(h, 1) over (partition by event_type order by h) is null then 1 " +
          "when h - lag(h, 1) over (partition by event_type order by h) > 1 then 1 else 0 end"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_exceedances"), sum("newc").as("n_clusters"))
    thr.join(runs, Seq("event_type"), "left")
      .select(col("event_type"), col("ng").as("n_hours"), col("u").as("threshold"),
        coalesce(col("n_exceedances"), lit(0L)).as("n_exceedances"),
        coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
        expr("""case when n_exceedances > 0 then
          round(cast(n_clusters as double)/n_exceedances, 6) end""")
          .as("theta"))
      .orderBy("event_type")
  }

  /** #5br mean cumulative function of purchases per user age — the
    * RECURRENT-events generalization of [[survivalKm]] (Nelson-Aalen
    * counts one event per subject; purchases repeat): at each age-day
    * k, MCF adds d_k/n_k where n_k counts users OBSERVED at least k
    * days (observation runs to the corpus horizon, so no event-driven
    * censoring bias). Per-day terms round to nano units before the
    * cumulative sum over the (tiny) age grid. */
  def eventsMcf(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("tsu", unix_micros(col("ts")))
    val horizon = ev.agg(max("tsu").as("h_end"))
    val firsts = ev.groupBy("user_id").agg(min("tsu").as("first_us"))
    val obs = firsts.crossJoin(broadcast(horizon))
      .withColumn("t_obs", expr("(h_end - first_us) div 86400000000"))
    val deaths = ev.filter(col("event_type") === "purchase")
      .join(firsts, "user_id")
      .withColumn("k", expr("(tsu - first_us) div 86400000000"))
      .groupBy("k").agg(count(lit(1)).as("d"))
    val tdist = obs.groupBy("t_obs").agg(count(lit(1)).as("nu"))
    val risk = deaths.select(col("k"))
      .join(broadcast(tdist), col("t_obs") >= col("k"))
      .groupBy("k").agg(sum("nu").as("n_risk"))
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    deaths.join(risk, "k")
      .withColumn("t_nano", expr(
        "cast(round(cast(d as double)/n_risk*1e9) as bigint)"))
      .withColumn("mcf", expr("round(sum(t_nano) over " +
        "(order by k rows between unbounded preceding and current row)/1e9, 6)"))
      .select(col("k").as("age_day"), col("d").as("n_events"),
        col("n_risk"), col("mcf"))
      .orderBy("age_day")
  }

  /** #5bp balanced-half-sample (BRR) standard error of the mean event
    * value — the replication SE for CLUSTER-sampled data (users are
    * the clusters; the iid jackknife understates when users repeat):
    * eight deterministic half-samples keyed by md5 bits of the user id,
    * each replicate mean an exact integer ratio, and the replicate
    * deviations nano-rounded (in value units) before the SE average.
    * One user-grain aggregate feeds all eight replicates via a
    * broadcast 8-row bit grid. */
  def brrSe(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .select(col("user_id"), expr("cast(round(value*1e6) as bigint)").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
    val full = perUser.agg(sum("n").as("nt"), sum("sv").as("svt"))
    val reps = perUser
      .crossJoin(broadcast(s.range(8).select(col("id").as("r"))))
      .filter(expr("shiftright(h, cast(r as int)) % 2 = 1"))
      .groupBy("r").agg(sum("n").as("nr"), sum("sv").as("svr"))
    reps.crossJoin(broadcast(full))
      .withColumn("t_nano", expr(
        """cast(round((cast(svr as double)/nr - cast(svt as double)/nt)/1e6
          *((cast(svr as double)/nr - cast(svt as double)/nt)/1e6)*1e9) as bigint)"""))
      .agg(count(lit(1)).as("n_replicates"), max("nt").as("n_events"),
        expr("round(max(cast(svt as double)/nt)/1e6, 6)").as("full_mean"),
        expr("round(sqrt(sum(t_nano)/1e9/count(1)), 6)").as("brr_se"))
  }

  /** #5bo James-Stein shrinkage of the per-type mean values — the
    * empirical-Bayes estimate that dominates the raw group means
    * whenever k ≥ 4: each mean pulls toward the grand mean by
    * c = max(0, 1 − (k−3)·σ̄²_mean/S), S = Σ(μᵢ−μ̄)². Values ride
    * integer micros; every μ is one exact-ratio division; the S and
    * pooled-variance sums take nano-rounded per-group terms
    * (round-then-sum); c and the shrunken means are single chains. */
  def shrinkageMeans(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .select(col("event_type"), expr("cast(round(value*1e6) as bigint)").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(expr("cast(v as decimal(38,0)) * v")).as("svv"))
      .withColumn("mu", expr("cast(sv as double)/n"))
      .withColumn("varm", expr(
        """case when n > 1 then
          cast(cast(n as decimal(38,0))*svv - cast(sv as decimal(38,0))*sv as double)
          /n/(n - 1)/n end"""))
    val tot = g.agg(sum("n").as("nt"), sum("sv").as("svt"),
      count(lit(1)).as("k"))
    val wide = g.crossJoin(broadcast(tot))
      .withColumn("mug", expr("cast(svt as double)/nt"))
      .withColumn("s_nano", expr(
        "cast(round((mu - mug)/1e6*((mu - mug)/1e6)*1e9) as bigint)"))
      .withColumn("v_nano", expr("cast(round(varm/1e12*1e9) as bigint)"))
    val sums = wide.groupBy("k", "mug")
      .agg(sum("s_nano").as("ss"), sum("v_nano").as("sv2"))
      .withColumn("c", expr(
        "greatest(0, 1 - (k - 3)*(sv2/1e9/k)/(ss/1e9))"))
    wide.join(broadcast(sums.select("k", "c")), Seq("k"))
      .select(col("event_type"), col("n"),
        expr("round(mu/1e6, 6)").as("raw_mean"),
        expr("round(c, 6)").as("shrink_factor"),
        expr("round((mug + c*(mu - mug))/1e6, 6)").as("shrunken_mean"))
      .orderBy("event_type")
  }

  /** #37w IPF raking / survey reweighting (Deming-Stephan iterative
    * proportional fitting): reweight the (lang × source) cells so lang
    * margins hit a UNIFORM target while source margins stay observed —
    * the classic "make the sample look like the population" step
    * before any cross-corpus comparison. Four unrolled row/col scaling
    * rounds; weights live on the nano grid after every step
    * (round-then-iterate, so both engines walk identical longs) and
    * each scaling factor is one double chain over exact sums. */
  def ipfRaking(s: SparkSession, dir: String): DataFrame =
    rakedWeights(s, dir)
      .select(col("lang"), col("source"), col("o"),
        expr("round(w/1e9, 6)").as("weight"),
        expr("round(w/1e9/o, 6)").as("raking_factor"))
      .orderBy("lang", "source")

  /** The converged nano-grid raking weights shared by [[ipfRaking]]
    * and [[rakingEss]]. */
  private def rakedWeights(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .transform(Tables.checkpoint)
    val tot = cells.agg(sum("o").as("n"), countDistinct("lang").as("kl"))
    // Step 0 lifts counts onto the nano grid.
    var w = cells.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("o"),
        (col("o") * lit(1000000000L)).as("w"), col("n"), col("kl"))
    for (step <- 1 to 4) {
      w = (if (step % 2 == 1) {
        val rs = w.groupBy(col("lang").as("l2")).agg(sum("w").as("ms"))
        w.join(broadcast(rs), col("lang") === col("l2"))
          .withColumn("w2", expr(
            "cast(round(cast(w as double)*(cast(n as double)/kl)*1e9/ms) as bigint)"))
      } else {
        val ct = cells.groupBy(col("source").as("s2")).agg(sum("o").as("ctgt"))
        val cs = w.groupBy(col("source").as("s3")).agg(sum("w").as("ms"))
        w.join(broadcast(ct), col("source") === col("s2"))
          .join(broadcast(cs), col("source") === col("s3"))
          .withColumn("w2", expr(
            "cast(round(cast(w as double)*ctgt*1e9/ms) as bigint)"))
      })
        .select(col("lang"), col("source"), col("o"), col("w2").as("w"),
          col("n"), col("kl"))
        .transform(Tables.checkpoint)
    }
    w
  }

  /** #37x effective sample size of the raking weights — the price of
    * reweighting in samples: ESS = (Σw)²/Σw² per lang (Kish). A lang
    * whose cells needed violent factors keeps few effective docs; the
    * ratio to its raw count is the design-effect readout. Exact
    * integer/decimal weight sums, one chain per lang. */
  def rakingEss(s: SparkSession, dir: String): DataFrame =
    rakedWeights(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_cells"), sum("o").as("n_docs"),
        sum("w").as("sw"),
        sum(expr("cast(w as decimal(38,0)) * w")).as("sww"))
      .select(col("lang"), col("n_cells"), col("n_docs"),
        expr("""round(cast(cast(sw as decimal(38,0))*sw as double)
          /cast(sww as double), 6)""").as("ess"),
        expr("""round(cast(cast(sw as decimal(38,0))*sw as double)
          /cast(sww as double)/n_docs, 6)""").as("ess_ratio"))
      .orderBy("lang")

  /** #5bn seasonal-hybrid ESD anomalies (Twitter's S-ESD shape):
    * deseasonalize against the dow×hod profile, then THREE unrolled
    * generalized-ESD rounds — each elects the extreme residual of the
    * REMAINING set and removes it before the next election, which is
    * what lets the detector see past masking (one huge outlier
    * inflating σ hides the second; plain [[grubbsTest]] stops at one).
    * Residuals become integer nanos immediately, so every election is
    * the exact integer |r·m − Σr| with an (dev DESC, hour ASC)
    * tie-break, and each round's G is one double chain over exact
    * moments of the surviving set. */
  def eventsSesd(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", expr("(hour_us div 86400000000 + 4) % 7"))
      .withColumn("hod", expr("(hour_us div 3600000000) % 24"))
    val cell = hourly.groupBy("event_type", "dow", "hod")
      .agg(sum("n").as("cn"), count(lit(1)).as("cc"))
    var rem = hourly.join(cell, Seq("event_type", "dow", "hod"))
      .withColumn("r", expr("cast(round((n - cast(cn as double)/cc)*1e9) as bigint)"))
      .select("event_type", "hour_us", "n", "r")
    val picks = (1 to 3).map { k =>
      val st = rem.groupBy("event_type")
        .agg(count(lit(1)).as("m"), sum("r").as("sr"),
          sum(expr("cast(r as decimal(38,0)) * r")).as("srr"))
      val cand = rem.join(broadcast(st), "event_type")
        .withColumn("dev", expr("abs(cast(r as decimal(38,0))*m - sr)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(col("dev").desc, col("hour_us"))))
      val pick = cand.filter(col("rn") === 1)
        .select(col("event_type"), lit(k.toLong).as("esd_round"), col("hour_us"),
          col("n"),
          expr("""case when m > 1
              and cast(m as decimal(38,0))*srr > cast(sr as decimal(38,0))*sr then
            round(cast(dev as double)/m
            / sqrt(cast(cast(m as decimal(38,0))*srr - cast(sr as decimal(38,0))*sr as double)
              /m/(m - 1)), 6) end""").as("g_stat"))
        .transform(Tables.checkpoint)
      rem = rem.join(pick.select(col("event_type").as("pe"), col("hour_us").as("ph")),
          col("event_type") === col("pe") && col("hour_us") === col("ph"), "left_anti")
        .transform(Tables.checkpoint)
      pick
    }
    picks.reduce(_ unionAll _).orderBy("event_type", "esd_round")
  }

  /** #1l' day-over-day data-quality metric drift — the TIME axis
    * [[dqConstraints]]'s static rules lack: daily row counts, null-value
    * counts, and distinct-user counts, each flagged when it moves more
    * than 20% against the previous day. Every flag is a CROSS-MULTIPLIED
    * integer comparison (5·|Δ| > prev) — no division, no float, no
    * epsilon; the lag window walks the day grid. */
  def dqMetricDrift(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
        countDistinct("user_id").as("n_users"))
    val w = Window.orderBy("day_idx")
    daily
      .withColumn("p_rows", lag("n_rows", 1).over(w))
      .withColumn("p_null", lag("n_null_value", 1).over(w))
      .withColumn("p_users", lag("n_users", 1).over(w))
      .select(col("day_idx"), col("n_rows"), col("n_null_value"), col("n_users"),
        expr("case when p_rows is not null then 5*abs(n_rows - p_rows) > p_rows end")
          .as("rows_drift"),
        expr("case when p_null is not null then 5*abs(n_null_value - p_null) > p_null end")
          .as("null_drift"),
        expr("case when p_users is not null then 5*abs(n_users - p_users) > p_users end")
          .as("users_drift"))
      .orderBy("day_idx")
  }

  /** #5bm Mood's median test across the per-type hourly rates — the
    * assumption-free "do the k distributions share a center" screen
    * (Kruskal-Wallis ranks everything; this only asks above/below the
    * POOLED median): the global median rides the doubled-integer med2,
    * above/below tallies compare 2x vs med2 exactly (ties excluded,
    * the standard convention), and each cell's (o−e)²/e rounds to nano
    * units before the chi-square sum. */
  def moodMedian(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val ranked = hourly.withColumn("rn",
      row_number().over(Window.orderBy(col("x"), col("event_type"), col("h"))))
    val nAll = hourly.agg(count(lit(1)).as("na"))
    val med2 = ranked.crossJoin(broadcast(nAll))
      .withColumn("p1", expr("rn = (na + 1) div 2"))
      .withColumn("p2", expr("rn = (na + 2) div 2"))
      .agg((sum(when(col("p1"), col("x")).otherwise(0L))
        + sum(when(col("p2"), col("x")).otherwise(0L))).as("med2"))
    val cells = hourly.crossJoin(broadcast(med2))
      .groupBy("event_type")
      .agg(sum(when(lit(2L) * col("x") > col("med2"), 1L).otherwise(0L)).as("a"),
        sum(when(lit(2L) * col("x") < col("med2"), 1L).otherwise(0L)).as("b"))
    val tot = cells.agg(sum("a").as("ta"), sum("b").as("tb"),
      count(lit(1)).as("k"))
    cells.crossJoin(broadcast(tot))
      .withColumn("n", col("ta") + col("tb"))
      .withColumn("ea", expr(
        "case when n > 0 then cast(a + b as double)*ta/n end"))
      .withColumn("eb", expr(
        "case when n > 0 then cast(a + b as double)*tb/n end"))
      .withColumn("t_nano", expr(
        """cast(round((case when ea > 0 then (a - ea)*(a - ea)/ea else 0 end
          + case when eb > 0 then (b - eb)*(b - eb)/eb else 0 end)*1e9) as bigint)"""))
      .agg(max("k").as("k_groups"), max("n").as("n_used"),
        round(sum("t_nano") / 1e9, 6).as("chi2"),
        (max("k") - 1).as("dof"))
  }

  /** #5bl trailing-24h rolling correlation between the click and
    * purchase hourly rates — the time-varying coupling a single global
    * corr() hides (regimes where the funnel decouples are the alert).
    * Every window statistic (n=24, Σx, Σy, Σxy, Σx², Σy²) is an exact
    * integer window sum over the joined hour spine; the correlation is
    * one double chain per row with zero-variance guards. */
  def eventsRollingCorr(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val a = hourly.filter(col("event_type") === "click")
      .select(col("h"), col("x").as("xa"))
    val b = hourly.filter(col("event_type") === "purchase")
      .select(col("h"), col("x").as("xb"))
    val j = a.join(b, "h")
    val wf = Window.orderBy("h").rowsBetween(-23, 0)
    val wr = Window.orderBy("h")
    j.withColumn("sx", sum("xa").over(wf))
      .withColumn("sy", sum("xb").over(wf))
      .withColumn("sxy", sum(col("xa") * col("xb")).over(wf))
      .withColumn("sxx", sum(col("xa") * col("xa")).over(wf))
      .withColumn("syy", sum(col("xb") * col("xb")).over(wf))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") >= 24)
      .select(col("h"),
        expr("""case when 24*sxx - sx*sx > 0 and 24*syy - sy*sy > 0 then
          round(cast(24*sxy - sx*sy as double)
            /sqrt(cast(24*sxx - sx*sx as double)*(24*syy - sy*sy)), 6) end""")
          .as("rolling_corr"))
      .orderBy("h")
  }

  /** #5bi Brown-Forsythe/Levene variance-homogeneity test across the
    * per-type hourly count distributions — the robust companion to
    * [[eventsBartlett]] (which assumes normality this data fails):
    * deviations from the GROUP MEDIAN, then a one-way F on them.
    * Medians ride the doubled integer med2 (odd n picks 2·mid, even
    * picks the two middles' sum) so z = |2x − med2| stays an exact
    * integer; the F numerator/denominator terms Sg²/ng round to nano
    * units pre-sum; one chain at display. */
  def leveneTest(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val wr = Window.partitionBy("event_type").orderBy("x", "h")
    val ranked = hourly.withColumn("rn", row_number().over(wr))
    // med2 needs ng before the rank filter — two-pass: sizes first.
    val sizes = hourly.groupBy("event_type").agg(count(lit(1)).as("ng"))
    val med2 = ranked.join(broadcast(sizes), "event_type")
      .withColumn("pick1", expr("rn = (ng + 1) div 2"))
      .withColumn("pick2", expr("rn = (ng + 2) div 2"))
      .groupBy("event_type")
      .agg((sum(when(col("pick1"), col("x")).otherwise(0L))
        + sum(when(col("pick2"), col("x")).otherwise(0L))).as("med2"))
    val z = hourly.join(broadcast(med2), "event_type")
      .withColumn("z", abs(lit(2L) * col("x") - col("med2")))
    val g = z.groupBy("event_type")
      .agg(count(lit(1)).as("ng"), sum("z").as("sz"),
        sum(expr("cast(z as decimal(38,0)) * z")).as("szz"))
      .withColumn("t_nano", expr(
        "cast(round(cast(sz as double)*sz/ng*1e9) as bigint)"))
    g.agg(count(lit(1)).as("k"), sum("ng").as("n"), sum("sz").as("st"),
        sum("szz").as("stt"), sum("t_nano").as("sgn"))
      .select(col("k").as("k_groups"), col("n").as("n_total"),
        expr("""case when k > 1 and cast(stt as double) <> sgn/1e9 then
          round(((n - k)*(sgn/1e9 - cast(st as double)*st/n))
            /((k - 1)*(cast(stt as double) - sgn/1e9)), 6) end""").as("w_stat"))
  }

  /** #5bj TOST equivalence test of the A/B value metric — the test
    * you run to SHOW two arms are the same (a non-significant t-test
    * is not evidence of equivalence): two one-sided Welch tests
    * against a ±5%-of-global-mean margin, equivalent iff BOTH one-
    * sided statistics clear the 95% one-sided z literal. Values ride
    * integer micros; means/variances derive from exact moments with
    * identical chains; the margin itself is one exact-rational double.
    */
  def abTost(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(expr("cast(round(value*1e6) as bigint)").as("v"),
        when(pmod(pmod(col("user_id"), lit(1000000L)) * lit(2654435761L)
          + lit(13L), lit(1000000L)) < 500000L, 0L).otherwise(1L).as("arm"))
      .filter(col("v").isNotNull)
    val g = ev.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(expr("cast(v as decimal(38,0)) * v")).as("svv"))
      .withColumn("mu", expr("cast(sv as double)/n"))
      .withColumn("s2", expr(
        """case when n > 1 then
          cast(cast(n as decimal(38,0))*svv - cast(sv as decimal(38,0))*sv as double)
          /n/(n - 1) end"""))
    val a = g.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("sv").as("sv_a"),
        col("mu").as("mu_a"), col("s2").as("s2_a"))
    val b = g.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("sv").as("sv_b"),
        col("mu").as("mu_b"), col("s2").as("s2_b"))
    a.crossJoin(broadcast(b))
      .withColumn("margin", expr(
        "0.05*cast(sv_a + sv_b as double)/(n_a + n_b)"))
      .withColumn("se", expr("sqrt(s2_a/n_a + s2_b/n_b)"))
      .withColumn("t_lower", expr("(mu_b - mu_a + margin)/se"))
      .withColumn("t_upper", expr("(margin - (mu_b - mu_a))/se"))
      .select(col("n_a"), col("n_b"),
        expr("round((mu_b - mu_a)/1e6, 6)").as("diff"),
        expr("round(margin/1e6, 6)").as("margin"),
        expr("round(t_lower, 6)").as("t_lower"),
        expr("round(t_upper, 6)").as("t_upper"),
        expr("t_lower > 1.644854 and t_upper > 1.644854").as("equivalent"))
  }

  /** #5bk sharp regression-discontinuity estimate at the 5%-discount
    * cutoff — does crossing the discount threshold JUMP order
    * quantities, beyond the smooth trend: local linear fits on integer
    * discount cents over bandwidth-3 windows each side, evaluated AT
    * the cutoff, jump = right(5) − left(5). Every regression moment
    * (n, Σx, Σy, Σxy, Σx²) is an exact integer; slopes/intercepts are
    * single double chains repeated identically in the oracle. */
  def rddDiscount(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(expr("cast(round(l_discount*100) as bigint)").as("dc"),
        col("l_quantity").cast("long").as("q"))
      .filter(col("dc") >= 2 && col("dc") <= 7)
      .withColumn("side", when(col("dc") < 5, "L").otherwise("R"))
    val g = li.groupBy("side")
      .agg(count(lit(1)).as("n"), sum("dc").as("sx"), sum("q").as("sy"),
        sum(col("dc") * col("q")).as("sxy"),
        sum(col("dc") * col("dc")).as("sxx"))
      .withColumn("slope", expr(
        """cast(cast(n as decimal(38,0))*sxy - cast(sx as decimal(38,0))*sy as double)
          /cast(cast(n as decimal(38,0))*sxx - cast(sx as decimal(38,0))*sx as double)"""))
      .withColumn("icpt", expr("(cast(sy as double) - slope*sx)/n"))
      .withColumn("fit5", expr("icpt + slope*5"))
    val l = g.filter(col("side") === "L")
      .select(col("n").as("n_left"), col("slope").as("slope_left"),
        col("fit5").as("fit_left"))
    val r = g.filter(col("side") === "R")
      .select(col("n").as("n_right"), col("slope").as("slope_right"),
        col("fit5").as("fit_right"))
    l.crossJoin(broadcast(r))
      .select(col("n_left"), col("n_right"),
        expr("round(slope_left, 6)").as("slope_left"),
        expr("round(slope_right, 6)").as("slope_right"),
        expr("round(fit_left, 6)").as("fit_left"),
        expr("round(fit_right, 6)").as("fit_right"),
        expr("round(fit_right - fit_left, 6)").as("jump"))
  }

  /** #5bh SAX symbolization + top motifs of the hourly rate series —
    * Lin/Keogh's symbolic aggregate approximation: z-score bands become
    * a 4-letter alphabet (Gaussian breakpoints ±0.6745, 0) and repeated
    * 3-letter motifs surface recurring shapes a variance readout hides.
    * The banding never divides: (x·n − S) compares against
    * ±0.6745·√A2 (one sqrt over the exact integer variance numerator),
    * so the symbol is engine-exact; motif ranks are integer counts
    * round-then-ranked with a lexicographic tie-break. Windows walk the
    * per-type hourly rollup. */
  def eventsSax(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val st = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("s2"))
      .withColumn("a2", expr("cast(n as decimal(38,0))*s2 - cast(sx as decimal(38,0))*sx"))
      .select("event_type", "n", "sx", "a2")
    val w = Window.partitionBy("event_type").orderBy("h")
    val sym = hourly.join(broadcast(st), "event_type")
      .withColumn("dd", expr("cast(x*n - sx as double)"))
      .withColumn("t", expr("0.6745*sqrt(cast(a2 as double))"))
      .withColumn("sym", expr(
        "case when dd < -t then 'a' when dd < 0 then 'b' when dd < t then 'c' else 'd' end"))
      .withColumn("motif",
        concat(col("sym"), lead("sym", 1).over(w), lead("sym", 2).over(w)))
      .filter(col("motif").isNotNull)
    sym.groupBy("event_type", "motif").agg(count(lit(1)).as("n_occ"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("event_type").orderBy(col("n_occ").desc, col("motif"))))
      .filter(col("rank") <= 3)
      .select("event_type", "rank", "motif", "n_occ")
      .orderBy("event_type", "rank")
  }

  /** #46f Gorilla-style timestamp compressibility estimate — how many
    * bits the per-user event-time streams cost under Facebook's
    * delta-of-delta scheme (Pelkonen et al., VLDB'15 buckets): the
    * first stamp stores 64 bits, the first delta buckets directly, and
    * every later stamp buckets its millisecond delta-of-delta into
    * {1, 9, 12, 16, 36}-bit classes. All tallies are exact integers
    * over lag windows PARTITIONED BY USER (bounded per-key state at
    * any scale — the sessionize discipline); the ratio divides once at
    * display, per event type. */
  def gorillaBits(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val bucket = (c: String) =>
      s"""case when $c = 0 then 1
         | when $c >= -63 and $c <= 64 then 9
         | when $c >= -255 and $c <= 256 then 12
         | when $c >= -2047 and $c <= 2048 then 16
         | else 36 end""".stripMargin
    Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        expr("unix_micros(ts) div 1000").as("ts_ms"))
      .withColumn("gap", col("ts_ms") - lag("ts_ms", 1).over(w))
      .withColumn("dod", col("gap") - lag("gap", 1).over(w))
      .withColumn("bits", expr(
        s"""case when gap is null then 64
           | when dod is null then ${bucket("gap")}
           | else ${bucket("dod")} end""".stripMargin))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("bits").as("total_bits"),
        sum(when(col("bits") === 1, 1L).otherwise(0L)).as("n_zero_dod"),
        sum(when(col("bits") === 36, 1L).otherwise(0L)).as("n_overflow"))
      .select(col("event_type"), col("n_events"), col("total_bits"),
        col("n_zero_dod"), col("n_overflow"),
        expr("round(cast(total_bits as double)/(64*n_events), 6)")
          .as("compression_ratio"))
      .orderBy("event_type")
  }

  /** #52c small-file compaction plan over the (lang, source) output
    * partitions — the maintenance pass every hive-partitioned corpus
    * needs: partitions in deterministic (lang, source) order pack
    * greedily into ~64 KB character-budget file groups by the same
    * contiguous integer-prefix rule [[graft.ops.Packing]] uses
    * (group = exclusive-prefix div target), so tiny partitions
    * coalesce and large ones keep whole groups. Exact integer byte
    * accounting; the running sum walks the |lang|×|source| aggregate,
    * never raw rows. */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.documents(s, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bytes"))
    val w = Window.orderBy("lang", "source")
      .rowsBetween(Window.unboundedPreceding, 0)
    parts
      .withColumn("cum", sum("bytes").over(w))
      .select(col("lang"), col("source"), col("n_docs"), col("bytes"),
        expr("(cum - bytes) div 65536").as("file_group"))
      .orderBy("lang", "source")
  }

  /** #46e compound-sort-key advisor — the standard lakehouse layout
    * rule (low-cardinality columns lead the sort key so runs stay long
    * and zone maps stay tight): exact NDV per candidate lineitem
    * column from ONE scan, ranked ascending with a name tie-break.
    * The ranking window walks six rows. */
  def sortkeyAdvisor(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val a = li.agg(count(lit(1)).as("n_rows"),
      countDistinct("l_returnflag").as("v1"),
      countDistinct("l_linestatus").as("v2"),
      countDistinct("l_shipdate").as("v3"),
      countDistinct("l_suppkey").as("v4"),
      countDistinct("l_partkey").as("v5"),
      countDistinct("l_quantity").as("v6"))
    a.select(col("n_rows"), expr(
        """stack(6, 'l_returnflag', v1, 'l_linestatus', v2, 'l_shipdate', v3,
          'l_suppkey', v4, 'l_partkey', v5, 'l_quantity', v6)
          as (col_name, ndv)"""))
      .withColumn("pos",
        row_number().over(Window.orderBy(col("ndv"), col("col_name"))))
      .select(col("col_name"), col("ndv"), col("n_rows"), col("pos"),
        expr("round(cast(ndv as double)/n_rows, 6)").as("ndv_ratio"))
      .orderBy("pos")
  }

  /** Per-edge triangle support of an oriented (a < b once) edge list:
    * the wedge-join triangle enumeration (each triangle once as
    * a < b < c) exploded back onto its three edges. Edges on no
    * triangle are absent (support 0 at the caller's coalesce). */
  private def edgeSupports(e: DataFrame): DataFrame = {
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.b") === col("bc.a"))
      .join(e.as("ac"), col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .select(col("ab.a").as("x"), col("ab.b").as("y"), col("bc.b").as("z"))
    tri.select(col("x").as("s"), col("y").as("t"))
      .unionAll(tri.select(col("x").as("s"), col("z").as("t")))
      .unionAll(tri.select(col("y").as("s"), col("z").as("t")))
      .groupBy("s", "t").agg(count(lit(1)).as("sup"))
  }

  /** #19x 4-truss of the co-purchase graph — the cohesion filter one
    * notch above [[graphKcore]]'s degree peel: an edge survives only
    * while it closes ≥ 1 triangle, so chains and stars dissolve and
    * only triangle-supported neighborhoods remain (Cohen's k-truss,
    * k = 3 — the k where this sparse co-purchase graph keeps a
    * non-trivial core). Three unrolled peel rounds (each a wedge self-join +
    * integer support filter — the fixed-iteration semi-join discipline,
    * no driver graph), then the surviving edges report their support
    * RECOMPUTED on the final graph. */
  def graphKtruss(s: SparkSession, dir: String): DataFrame = {
    var e = OpsQueries.coocPairs(s, dir)
      .select(col("item_a").as("a"), col("item_b").as("b"))
      .transform(Tables.checkpoint)
    for (_ <- 1 to 3) {
      val sup = edgeSupports(e)
      e = e.join(sup, e("a") === sup("s") && e("b") === sup("t"))
        .filter(col("sup") >= 1)
        .select(e("a"), e("b"))
        .transform(Tables.checkpoint)
    }
    val fin = edgeSupports(e)
    e.join(fin, e("a") === fin("s") && e("b") === fin("t"), "left")
      .select(e("a").as("item_a"), e("b").as("item_b"),
        coalesce(col("sup"), lit(0L)).as("support"))
      .orderBy("item_a", "item_b")
  }

  /** #3l XYZ demand-variability classification per part — the
    * companion axis to the ABC/Pareto revenue split ([[
    * graft.queries.OpsQueries.paretoParts]]): coefficient of variation
    * of WEEKLY demand with zero-demand weeks counted over the global
    * week horizon (sparse parts must read as erratic, not smooth).
    * Quantities are integral doubles → exact longs; CV² = (W·Σx² −
    * S²)/S² is an exact-integer ratio, and the X/≤0.5 / Y/≤1.0 / Z
    * boundaries compare through one sqrt. */
  def xyzClass(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        expr("datediff(l_shipdate, date'1970-01-01') div 7").as("wk"),
        col("l_quantity").cast("long").as("q"))
    val horizon = li.select("wk").distinct().agg(count(lit(1)).as("w"))
    val perPart = li.groupBy("l_partkey")
      .agg(sum("q").as("sq"),
        sum(expr("cast(q as decimal(38,0)) * q")).as("sqq"),
        countDistinct("wk").as("active_weeks"))
    perPart.crossJoin(broadcast(horizon))
      .withColumn("cv", expr(
        "sqrt(cast(cast(w as decimal(38,0))*sqq - cast(sq as decimal(38,0))*sq as double))/sq"))
      .select(col("l_partkey"), col("active_weeks"), col("sq").as("total_qty"),
        expr("round(cv, 6)").as("cv"),
        expr("case when cv <= 0.5 then 'X' when cv <= 1.0 then 'Y' else 'Z' end")
          .as("xyz"))
      .orderBy("l_partkey")
  }

  /** #1m broadcast-join advisor — "which dimensions fit under the
    * 10 MB autoBroadcastJoinThreshold": exact integer byte estimates
    * per dimension table (fixed widths for numeric/date columns, exact
    * summed lengths for strings), one aggregate per table unioned into
    * the advisory. The estimate convention is pinned in the oracle. */
  def broadcastAdvisor(s: SparkSession, dir: String): DataFrame = {
    def est(df: DataFrame, name: String, fixed: Long, strCols: Seq[String]) = {
      val strBytes = strCols.map(c => sum(length(col(c)).cast("long")))
        .reduceOption(_ + _).getOrElse(lit(0L))
      df.agg(count(lit(1)).as("n_rows"),
          (strBytes + count(lit(1)) * fixed).as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"), col("est_bytes"),
          (col("est_bytes") <= 10485760L).as("broadcastable"))
    }
    est(Tables.region(s, dir), "region", 4L, Seq("r_name"))
      .unionAll(est(Tables.nation(s, dir), "nation", 8L, Seq("n_name")))
      .unionAll(est(Tables.supplier(s, dir), "supplier", 20L, Seq("s_name")))
      .unionAll(est(Tables.customer(s, dir), "customer", 20L,
        Seq("c_name", "c_mktsegment")))
      .unionAll(est(Tables.part(s, dir), "part", 20L,
        Seq("p_name", "p_brand", "p_type")))
      .orderBy("table_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_sax"         -> (eventsSax _),
    "events_rolling_corr" -> (eventsRollingCorr _),
    "mood_median"        -> (moodMedian _),
    "logbin_quantiles"   -> (logbinQuantiles _),
    "dq_metric_drift"    -> (dqMetricDrift _),
    "events_sesd"        -> (eventsSesd _),
    "ipf_raking"         -> (ipfRaking _),
    "raking_ess"         -> (rakingEss _),
    "gwet_ac1"           -> (gwetAc1 _),
    "shrinkage_means"    -> (shrinkageMeans _),
    "brr_se"             -> (brrSe _),
    "extremal_index"     -> (extremalIndex _),
    "graph_ppr"          -> (graphPpr _),
    "events_mcf"         -> (eventsMcf _),
    "levene_test"        -> (leveneTest _),
    "ab_tost"            -> (abTost _),
    "rdd_discount"       -> (rddDiscount _),
    "graph_ktruss"       -> (graphKtruss _),
    "xyz_class"          -> (xyzClass _),
    "broadcast_advisor"  -> (broadcastAdvisor _),
    "gorilla_bits"       -> (gorillaBits _),
    "compaction_plan"    -> (compactionPlan _),
    "sortkey_advisor"    -> (sortkeyAdvisor _),
    "corpus_gtest"       -> (corpusGtest _),
    "ab_srm"             -> (abSrm _),
    "logrank_test"       -> (logrankTest _),
    "events_cvm"         -> (eventsCvm _),
    "events_jarque_bera" -> (eventsJarqueBera _),
    "events_drawdown"    -> (eventsDrawdown _),
    "events_bollinger"   -> (eventsBollinger _),
    "grubbs_test"        -> (grubbsTest _),
    "events_negbin"      -> (eventsNegbin _),
    "uplift_qini"        -> (upliftQini _),
    "ab_group_sequential" -> (abGroupSequential _),
    "logistic_newton"    -> (logisticNewton _),
    "events_lagged_mi"   -> (eventsLaggedMi _),
    "events_tail_ratio"  -> (eventsTailRatio _),
    "population_estimate" -> (populationEstimate _),
    "hash_collision_audit" -> (hashCollisionAudit _),
    "events_uncertainty" -> (eventsUncertaintyCoef _),
    "events_wavelet"     -> (eventsWaveletEnergy _),
    "events_tail_index"  -> (eventsTailIndex _),
    "ab_ratio_delta"     -> (abRatioDelta _),
    "ab_qte"             -> (abQte _),
    "source_simpson"     -> (sourceSimpson _),
    "ab_effect_size"     -> (abEffectSize _),
    "returns_ztest"      -> (returnsZtest _),
    "events_mad_outliers" -> (eventsMadOutliers _),
    "spc_pchart"         -> (spcPchart _),
    "jackknife_days"     -> (jackknifeDays _),
    "events_partial_corr" -> (eventsPartialCorr _),
    "events_friedman"    -> (eventsFriedman _),
    "events_mannkendall" -> (eventsMannKendall _),
    "concurrency_peak"   -> (concurrencyPeak _),
    "revenue_atkinson"   -> (revenueAtkinson _),
    "anomaly_holm"       -> (anomalyHolm _),
    "woe_iv"             -> (woeIv _),
    "events_anova"       -> (eventsAnova _),
    "events_bartlett"    -> (eventsBartlett _),
    "annotator_alpha"    -> (annotatorAlpha _),
    "events_ljungbox"    -> (eventsLjungBox _),
    "fleiss_kappa"       -> (fleissKappa _),
    "ab_power"           -> (abPower _),
    "ate_stratified"     -> (ateStratified _),
    "changepoint_binseg" -> (changepointBinseg _),
    "ab_cuped"           -> (abCuped _),
    "forecast_baseline"  -> (forecastBaseline _),
    "shapley_attribution" -> (shapleyAttribution _),
    "sketch_bottomk"     -> (sketchBottomk _),
    "ols_normal"         -> (olsNormal _),
    "dq_constraints"     -> (dqConstraints _),
    "events_ohlc"        -> (eventsOhlc _),
    "vec_quantize"       -> (vecQuantize _),
    "slo_burn"           -> (sloBurn _),
    "survival_km"        -> (survivalKm _),
    "survival_na"        -> (survivalNa _),
    "graph_hits"         -> (graphHits _),
    "ab_permutation"     -> (abPermutation _),
    "events_cmh"         -> (eventsCmh _),
    "events_moving_median" -> (eventsMovingMedian _),
    "graph_diameter"     -> (graphDiameter _),
    "kruskal_wallis"     -> (kruskalWallis _),
    "kw_dunn"            -> (kwDunn _),
    "anova_tukey"        -> (anovaTukey _),
    "ab_cliffs_delta"    -> (abCliffsDelta _),
    "events_durbin_watson" -> (eventsDurbinWatson _),
    "events_page_hinkley" -> (eventsPageHinkley _),
    "events_wilcoxon"    -> (eventsWilcoxon _),
    "cramers_v"          -> (cramersV _),
    "mcnemar_gates"      -> (mcnemarGates _),
    "cochran_armitage"   -> (cochranArmitage _),
    "events_entropy_rate" -> (eventsEntropyRate _),
    "range_partition_plan" -> (rangePartitionPlan _),
    "revenue_gini"       -> (revenueGini _),
    "dp_rr"              -> (dpRandResponse _),
    "events_kendall"     -> (eventsKendall _),
    "events_ccf"         -> (eventsCcf _),
    "simpson_check"      -> (simpsonCheck _),
    "ab_sprt"            -> (abSprt _),
    "events_did"         -> (eventsDid _),
    "sketch_f2"          -> (sketchF2 _),
    "backlog_aging"      -> (backlogAging _),
    "skyline_parts"      -> (skylineParts _),
    "events_peaks"       -> (eventsPeaks _),
    "partition_skew"     -> (partitionSkew _),
    "postings_compression" -> (postingsCompression _),
    "seasonality_strength" -> (seasonalityStrength _),
    "events_hurst"       -> (eventsHurst _),
    "markov_accuracy"    -> (markovAccuracy _),
    "events_burstiness"  -> (eventsBurstiness _),
    "graph_richclub"     -> (graphRichclub _),
    "events_dispersion"  -> (eventsDispersion _),
    "littles_law"        -> (littlesLaw _),
    "encoding_advisor"   -> (encodingAdvisor _),
    "bandit_replay"      -> (banditReplay _),
    "events_twap"        -> (eventsTwap _),
    "q25_top_supplier"   -> (q25TopSupplier _),
    "replica_repair"     -> (replicaRepair _),
    "markov_attribution" -> (markovAttribution _),
    "cohort_ltv"         -> (cohortLtv _),
    "join_size_audit"    -> (joinSizeAudit _),
    "table_merkle"       -> (tableMerkle _),
    "basket_triples"     -> (basketTriples _),
    "revenue_tree"       -> (revenueTree _),
    "watermark_audit"    -> (watermarkAudit _),
    "session_sensitivity" -> (sessionSensitivity _),
    "anomaly_fdr"        -> (anomalyFdr _),
    "assoc_rules"        -> (assocRules _),
    "source_jsd"         -> (sourceJsd _),
    "zonemap_prune"      -> (zonemapPrune _),
    "graph_kcore"        -> (graphKcore _),
  )

  /** One power-iteration CTE (the oracle's 12 absorption steps are
    * generated, not hand-copied). */
  private def markovVCte(k: Int): String =
    s"""v$k AS (
       |  SELECT c.cfg AS vcfg, c.s AS st, sum(c.p * v.v) AS v
       |  FROM ctrans c JOIN v${k - 1} v ON v.vcfg = c.cfg AND v.st = c.t
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT cfg AS vcfg, '__conv' AS st, 1.0 AS v FROM configs
       |)""".stripMargin

  private lazy val markovSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events
       |), f AS (
       |  SELECT *, CASE WHEN tsu - lag(tsu) OVER w > 1800000000
       |    OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS news
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
       |), sx AS (
       |  SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY tsu, event_id
       |    ROWS UNBOUNDED PRECEDING) AS session_idx
       |  FROM f
       |), r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY user_id, session_idx ORDER BY tsu, event_id) AS rn
       |  FROM sx
       |), g AS (
       |  SELECT *, min(CASE WHEN event_type = 'purchase' THEN rn END)
       |      OVER (PARTITION BY user_id, session_idx) AS pp,
       |    max(rn) OVER (PARTITION BY user_id, session_idx) AS mx
       |  FROM r
       |), kept AS (SELECT * FROM g WHERE rn <= coalesce(pp, mx)),
       |stepped AS (
       |  SELECT *, lag(event_type) OVER (
       |    PARTITION BY user_id, session_idx ORDER BY rn) AS prev
       |  FROM kept
       |), e1 AS (
       |  SELECT CASE WHEN rn = 1 THEN '__start' ELSE prev END AS s,
       |    CASE WHEN event_type = 'purchase' THEN '__conv' ELSE event_type END AS t
       |  FROM stepped
       |), e2 AS (
       |  SELECT event_type AS s, '__null' AS t FROM kept
       |  WHERE pp IS NULL AND rn = mx
       |), edges AS (
       |  SELECT s, t, count(*) AS n
       |  FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2) u GROUP BY 1, 2
       |), probs AS (
       |  SELECT s, t, n / (sum(n) OVER (PARTITION BY s))::DOUBLE AS p FROM edges
       |), configs AS (
       |  SELECT DISTINCT event_type AS cfg FROM events WHERE event_type <> 'purchase'
       |  UNION ALL SELECT 'none'
       |), ctrans AS (
       |  SELECT cfg, s, CASE WHEN t = cfg THEN '__null' ELSE t END AS t,
       |    sum(p) AS p
       |  FROM probs CROSS JOIN configs WHERE s <> cfg GROUP BY 1, 2, 3
       |), v0 AS (SELECT cfg AS vcfg, '__conv' AS st, 1.0 AS v FROM configs),
       |${(1 to 12).map(markovVCte).mkString(",\n")},
       |pstart AS (
       |  SELECT vcfg AS cfg, v AS p_conv FROM v12 WHERE st = '__start'
       |), base AS (SELECT p_conv AS p_base FROM pstart WHERE cfg = 'none'),
       |rem AS (
       |  SELECT cfg, coalesce(p_conv, 0.0::DOUBLE) AS p_conv, p_base,
       |    p_base - coalesce(p_conv, 0.0::DOUBLE) AS removal_effect
       |  FROM (SELECT cfg FROM configs WHERE cfg <> 'none') c
       |  LEFT JOIN pstart USING (cfg) CROSS JOIN base
       |), tot AS (SELECT sum(removal_effect) AS tot FROM rem)
       |SELECT cfg AS channel, round(p_base, 6) AS p_conv_base,
       |  round(p_conv, 6) AS p_conv_removed,
       |  round(removal_effect, 6) AS removal_effect,
       |  round(removal_effect / tot, 6) AS share
       |FROM rem CROSS JOIN tot ORDER BY channel""".stripMargin

  /** One oracle block per FK edge (same shape, four instantiations). */
  private def joinEdgeSql(name: String, ta: String, ka: String,
      tb: String, kb: String): String =
    s"""SELECT '$name' AS edge, n_left, n_right, d_left, d_right,
       |  (n_left * n_right // greatest(d_left, d_right))::BIGINT AS est_uniform,
       |  actual, (est_uniform * 10000 // actual)::BIGINT AS ratio_bp
       |FROM (
       |  SELECT
       |    (SELECT count(*) FROM $ta) AS n_left,
       |    (SELECT count(*) FROM $tb) AS n_right,
       |    (SELECT count(DISTINCT $ka) FROM $ta) AS d_left,
       |    (SELECT count(DISTINCT $kb) FROM $tb) AS d_right,
       |    (SELECT sum(na * nb)::BIGINT FROM
       |      (SELECT $ka AS k, count(*) AS na FROM $ta GROUP BY 1) x
       |      JOIN (SELECT $kb AS k, count(*) AS nb FROM $tb GROUP BY 1) y
       |      USING (k)) AS actual
       |) s""".stripMargin

  val oracles: Map[String, String] = Map(
    // Five unrolled pico-grid spreads with seed-only teleport; same
    // rounding points as the engine at every step.
    "graph_ppr" ->
      """WITH b AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), pr AS MATERIALIZED (
        |  SELECT x.item AS a, y.item AS bb
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), e AS MATERIALIZED (
        |  SELECT a AS sv, bb AS tv FROM pr UNION ALL SELECT bb, a FROM pr
        |), deg AS MATERIALIZED (
        |  SELECT sv, count(*)::BIGINT AS d FROM e GROUP BY 1
        |), p0 AS (
        |  SELECT (SELECT min(sv) FROM e) AS v, 1000000000000::BIGINT AS pp
        |), sp1 AS MATERIALIZED (
        |  SELECT e.tv AS v,
        |    CAST(round(0.85*sum(CAST(round(CAST(p.pp AS DOUBLE)/deg.d) AS BIGINT)))
        |      AS BIGINT) AS pp
        |  FROM e JOIN p0 p ON e.sv = p.v JOIN deg ON e.sv = deg.sv
        |  GROUP BY e.tv
        |), p1 AS MATERIALIZED (
        |  SELECT v, sum(pp)::BIGINT AS pp FROM (
        |    SELECT v, pp FROM sp1
        |    UNION ALL SELECT (SELECT min(sv) FROM e), 150000000000) x
        |  GROUP BY v
        |),
        |sp2 AS MATERIALIZED (
        |  SELECT e.tv AS v,
        |    CAST(round(0.85*sum(CAST(round(CAST(p.pp AS DOUBLE)/deg.d) AS BIGINT)))
        |      AS BIGINT) AS pp
        |  FROM e JOIN p1 p ON e.sv = p.v JOIN deg ON e.sv = deg.sv
        |  GROUP BY e.tv
        |), p2 AS MATERIALIZED (
        |  SELECT v, sum(pp)::BIGINT AS pp FROM (
        |    SELECT v, pp FROM sp2
        |    UNION ALL SELECT (SELECT min(sv) FROM e), 150000000000) x
        |  GROUP BY v
        |),
        |sp3 AS MATERIALIZED (
        |  SELECT e.tv AS v,
        |    CAST(round(0.85*sum(CAST(round(CAST(p.pp AS DOUBLE)/deg.d) AS BIGINT)))
        |      AS BIGINT) AS pp
        |  FROM e JOIN p2 p ON e.sv = p.v JOIN deg ON e.sv = deg.sv
        |  GROUP BY e.tv
        |), p3 AS MATERIALIZED (
        |  SELECT v, sum(pp)::BIGINT AS pp FROM (
        |    SELECT v, pp FROM sp3
        |    UNION ALL SELECT (SELECT min(sv) FROM e), 150000000000) x
        |  GROUP BY v
        |),
        |sp4 AS MATERIALIZED (
        |  SELECT e.tv AS v,
        |    CAST(round(0.85*sum(CAST(round(CAST(p.pp AS DOUBLE)/deg.d) AS BIGINT)))
        |      AS BIGINT) AS pp
        |  FROM e JOIN p3 p ON e.sv = p.v JOIN deg ON e.sv = deg.sv
        |  GROUP BY e.tv
        |), p4 AS MATERIALIZED (
        |  SELECT v, sum(pp)::BIGINT AS pp FROM (
        |    SELECT v, pp FROM sp4
        |    UNION ALL SELECT (SELECT min(sv) FROM e), 150000000000) x
        |  GROUP BY v
        |),
        |sp5 AS MATERIALIZED (
        |  SELECT e.tv AS v,
        |    CAST(round(0.85*sum(CAST(round(CAST(p.pp AS DOUBLE)/deg.d) AS BIGINT)))
        |      AS BIGINT) AS pp
        |  FROM e JOIN p4 p ON e.sv = p.v JOIN deg ON e.sv = deg.sv
        |  GROUP BY e.tv
        |), p5 AS MATERIALIZED (
        |  SELECT v, sum(pp)::BIGINT AS pp FROM (
        |    SELECT v, pp FROM sp5
        |    UNION ALL SELECT (SELECT min(sv) FROM e), 150000000000) x
        |  GROUP BY v
        |)
        |SELECT v AS item, pp AS pp_pico, round(pp/1e12, 6) AS ppr
        |FROM p5 ORDER BY pp DESC, v LIMIT 20""".stripMargin,
    // Exact order-statistic threshold, strict integer exceedance, runs
    // declustering on calendar-hour gaps; one division.
    "extremal_index" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), sizes AS (SELECT event_type, count(*)::BIGINT AS ng FROM hourly GROUP BY 1),
        |ranked AS (
        |  SELECT event_type, h, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY x, h) AS rn
        |  FROM hourly
        |), thr AS (
        |  SELECT r.event_type, r.x AS u, s.ng
        |  FROM ranked r JOIN sizes s ON r.event_type = s.event_type
        |  WHERE r.rn = (9*s.ng + 9) // 10
        |), exc AS (
        |  SELECT h.event_type, h.h FROM hourly h JOIN thr t
        |    ON h.event_type = t.event_type WHERE h.x > t.u
        |), runs AS (
        |  SELECT event_type, count(*)::BIGINT AS n_exceedances,
        |    sum(CASE WHEN ph IS NULL THEN 1 WHEN h - ph > 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_clusters
        |  FROM (SELECT event_type, h,
        |          lag(h, 1) OVER (PARTITION BY event_type ORDER BY h) AS ph
        |        FROM exc) x
        |  GROUP BY 1
        |)
        |SELECT t.event_type, t.ng AS n_hours, t.u AS threshold,
        |  coalesce(r.n_exceedances, 0)::BIGINT AS n_exceedances,
        |  coalesce(r.n_clusters, 0)::BIGINT AS n_clusters,
        |  CASE WHEN coalesce(r.n_exceedances, 0) > 0 THEN
        |    round(CAST(r.n_clusters AS DOUBLE)/r.n_exceedances, 6) END AS theta
        |FROM thr t LEFT JOIN runs r ON t.event_type = r.event_type
        |ORDER BY t.event_type""".stripMargin,
    // Observation-to-horizon at-risk counts; per-day d/n terms
    // nano-round before the cumulative age-grid sum.
    "events_mcf" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events
        |), hz AS (SELECT max(tsu) AS h_end FROM ev),
        |firsts AS (SELECT user_id, min(tsu) AS first_us FROM ev GROUP BY 1),
        |obs AS (
        |  SELECT user_id, ((SELECT h_end FROM hz) - first_us) // 86400000000 AS t_obs
        |  FROM firsts
        |), deaths AS (
        |  SELECT (e.tsu - f.first_us) // 86400000000 AS k, count(*)::BIGINT AS d
        |  FROM ev e JOIN firsts f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase' GROUP BY 1
        |), tdist AS (SELECT t_obs, count(*)::BIGINT AS nu FROM obs GROUP BY 1),
        |risk AS (
        |  SELECT d.k, sum(t.nu)::BIGINT AS n_risk
        |  FROM (SELECT k FROM deaths) d JOIN tdist t ON t.t_obs >= d.k
        |  GROUP BY 1
        |), terms AS (
        |  SELECT deaths.k, deaths.d, risk.n_risk,
        |    CAST(round(CAST(deaths.d AS DOUBLE)/risk.n_risk*1e9) AS BIGINT) AS t_nano
        |  FROM deaths JOIN risk ON deaths.k = risk.k
        |)
        |SELECT k AS age_day, d AS n_events, n_risk,
        |  round(sum(t_nano) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW)/1e9, 6) AS mcf
        |FROM terms ORDER BY age_day""".stripMargin,
    // Same md5-bit half-samples; replicate means are exact ratios and
    // deviations nano-round (value units) before the SE average.
    "brr_se" ->
      """WITH pu AS (
        |  SELECT user_id, count(*)::BIGINT AS n, sum(v)::BIGINT AS sv,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM (SELECT user_id, CAST(round(value*1e6) AS BIGINT) AS v
        |        FROM events WHERE value IS NOT NULL) GROUP BY user_id
        |), full_t AS (SELECT sum(n)::BIGINT AS nt, sum(sv)::BIGINT AS svt FROM pu),
        |reps AS (
        |  SELECT r, sum(n)::BIGINT AS nr, sum(sv)::BIGINT AS svr
        |  FROM pu CROSS JOIN (SELECT unnest(range(0, 8))::BIGINT AS r) g
        |  WHERE (h >> CAST(r AS INTEGER)) % 2 = 1
        |  GROUP BY r
        |), t AS (
        |  SELECT
        |    CAST(round((CAST(svr AS DOUBLE)/nr - CAST(svt AS DOUBLE)/nt)/1e6
        |      *((CAST(svr AS DOUBLE)/nr - CAST(svt AS DOUBLE)/nt)/1e6)*1e9) AS BIGINT)
        |      AS t_nano, nt, svt
        |  FROM reps CROSS JOIN full_t
        |)
        |SELECT count(*)::BIGINT AS n_replicates, max(nt) AS n_events,
        |  round(max(CAST(svt AS DOUBLE)/nt)/1e6, 6) AS full_mean,
        |  round(sqrt(sum(t_nano)/1e9/count(1)), 6) AS brr_se
        |FROM t""".stripMargin,
    // Exact micro moments per group; S and pooled-variance sums take
    // nano-rounded terms; c and the shrunken means are single chains.
    "shrinkage_means" ->
      """WITH g AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(v)::BIGINT AS sv,
        |    sum(CAST(v AS HUGEINT)*v) AS svv
        |  FROM (SELECT event_type, CAST(round(value*1e6) AS BIGINT) AS v
        |        FROM events WHERE value IS NOT NULL) GROUP BY 1
        |), m AS (
        |  SELECT event_type, n, CAST(sv AS DOUBLE)/n AS mu,
        |    CASE WHEN n > 1 THEN
        |      CAST(CAST(n AS HUGEINT)*svv - CAST(sv AS HUGEINT)*sv AS DOUBLE)
        |      /n/(n - 1)/n END AS varm
        |  FROM g
        |), tot AS (
        |  SELECT sum(n)::BIGINT AS nt, sum(sv)::BIGINT AS svt,
        |    count(*)::BIGINT AS k
        |  FROM g
        |), wide AS (
        |  SELECT m.event_type, m.n, m.mu, t.k,
        |    CAST(t.svt AS DOUBLE)/t.nt AS mug,
        |    CAST(round((m.mu - CAST(t.svt AS DOUBLE)/t.nt)/1e6
        |      *((m.mu - CAST(t.svt AS DOUBLE)/t.nt)/1e6)*1e9) AS BIGINT) AS s_nano,
        |    CAST(round(m.varm/1e12*1e9) AS BIGINT) AS v_nano
        |  FROM m CROSS JOIN tot t
        |), sums AS (
        |  SELECT k, sum(s_nano)::BIGINT AS ss, sum(v_nano)::BIGINT AS sv2
        |  FROM wide GROUP BY k
        |), c AS (
        |  SELECT k, greatest(0, 1 - (k - 3)*(sv2/1e9/k)/(ss/1e9)) AS c FROM sums
        |)
        |SELECT w.event_type, w.n, round(w.mu/1e6, 6) AS raw_mean,
        |  round(c.c, 6) AS shrink_factor,
        |  round((w.mug + c.c*(w.mu - w.mug))/1e6, 6) AS shrunken_mean
        |FROM wide w JOIN c ON w.k = c.k ORDER BY w.event_type""".stripMargin,
    // Kish ESS per lang over the same converged nano weights.
    "raking_ess" ->
      ("""WITH cells AS MATERIALIZED (
        |  SELECT lang, source, count(*)::BIGINT AS o FROM documents GROUP BY 1, 2
        |), tot AS (
        |  SELECT sum(o)::BIGINT AS n, count(DISTINCT lang)::BIGINT AS kl FROM cells
        |), w0 AS (
        |  SELECT lang, source, o, o*1000000000 AS w, n, kl
        |  FROM cells CROSS JOIN tot
        |), m1 AS (SELECT lang AS mk, sum(w)::BIGINT AS ms FROM w0 GROUP BY 1),
        |w1 AS (
        |  SELECT b.lang, b.source, b.o, b.n, b.kl,
        |    CAST(round(CAST(b.w AS DOUBLE)*(CAST(b.n AS DOUBLE)/b.kl)*1e9/m.ms)
        |      AS BIGINT) AS w
        |  FROM w0 b JOIN m1 m ON b.lang = m.mk
        |),
        |c2 AS (SELECT source AS ck, sum(o)::BIGINT AS ctgt FROM cells GROUP BY 1),
        |s2 AS (SELECT source AS sk, sum(w)::BIGINT AS ms FROM w1 GROUP BY 1),
        |w2 AS (
        |  SELECT b.lang, b.source, b.o, b.n, b.kl,
        |    CAST(round(CAST(b.w AS DOUBLE)*c.ctgt*1e9/m.ms) AS BIGINT) AS w
        |  FROM w1 b JOIN c2 c ON b.source = c.ck
        |  JOIN s2 m ON b.source = m.sk
        |),
        |m3 AS (SELECT lang AS mk, sum(w)::BIGINT AS ms FROM w2 GROUP BY 1),
        |w3 AS (
        |  SELECT b.lang, b.source, b.o, b.n, b.kl,
        |    CAST(round(CAST(b.w AS DOUBLE)*(CAST(b.n AS DOUBLE)/b.kl)*1e9/m.ms)
        |      AS BIGINT) AS w
        |  FROM w2 b JOIN m3 m ON b.lang = m.mk
        |),
        |c4 AS (SELECT source AS ck, sum(o)::BIGINT AS ctgt FROM cells GROUP BY 1),
        |s4 AS (SELECT source AS sk, sum(w)::BIGINT AS ms FROM w3 GROUP BY 1),
        |w4 AS (
        |  SELECT b.lang, b.source, b.o, b.n, b.kl,
        |    CAST(round(CAST(b.w AS DOUBLE)*c.ctgt*1e9/m.ms) AS BIGINT) AS w
        |  FROM w3 b JOIN c4 c ON b.source = c.ck
        |  JOIN s4 m ON b.source = m.sk
        |)
        |SELECT lang, count(*)::BIGINT AS n_cells, sum(o)::BIGINT AS n_docs,
        |  round(CAST(CAST(sum(w) AS HUGEINT)*sum(w) AS DOUBLE)
        |    /CAST(sum(CAST(w AS HUGEINT)*w) AS DOUBLE), 6) AS ess,
        |  round(CAST(CAST(sum(w) AS HUGEINT)*sum(w) AS DOUBLE)
        |    /CAST(sum(CAST(w AS HUGEINT)*w) AS DOUBLE)/sum(o), 6) AS ess_ratio
        |FROM w4 GROUP BY lang ORDER BY lang""").stripMargin,
    // Same nano-grid round-then-iterate scaling; factors are single
    // double chains over exact sums.
    "ipf_raking" ->
      """WITH cells AS MATERIALIZED (
        |  SELECT lang, source, count(*)::BIGINT AS o FROM documents GROUP BY 1, 2
        |), tot AS (
        |  SELECT sum(o)::BIGINT AS n, count(DISTINCT lang)::BIGINT AS kl FROM cells
        |), w0 AS (
        |  SELECT lang, source, o, o*1000000000 AS w, n, kl
        |  FROM cells CROSS JOIN tot
        |), m1 AS (SELECT lang AS mk, sum(w)::BIGINT AS ms FROM w0 GROUP BY 1),
        |w1 AS (
        |  SELECT b.lang, b.source, b.o, b.n, b.kl,
        |    CAST(round(CAST(b.w AS DOUBLE)*(CAST(b.n AS DOUBLE)/b.kl)*1e9/m.ms)
        |      AS BIGINT) AS w
        |  FROM w0 b JOIN m1 m ON b.lang = m.mk
        |),
        |c2 AS (SELECT source AS ck, sum(o)::BIGINT AS ctgt FROM cells GROUP BY 1),
        |s2 AS (SELECT source AS sk, sum(w)::BIGINT AS ms FROM w1 GROUP BY 1),
        |w2 AS (
        |  SELECT b.lang, b.source, b.o, b.n, b.kl,
        |    CAST(round(CAST(b.w AS DOUBLE)*c.ctgt*1e9/m.ms) AS BIGINT) AS w
        |  FROM w1 b JOIN c2 c ON b.source = c.ck
        |  JOIN s2 m ON b.source = m.sk
        |),
        |m3 AS (SELECT lang AS mk, sum(w)::BIGINT AS ms FROM w2 GROUP BY 1),
        |w3 AS (
        |  SELECT b.lang, b.source, b.o, b.n, b.kl,
        |    CAST(round(CAST(b.w AS DOUBLE)*(CAST(b.n AS DOUBLE)/b.kl)*1e9/m.ms)
        |      AS BIGINT) AS w
        |  FROM w2 b JOIN m3 m ON b.lang = m.mk
        |),
        |c4 AS (SELECT source AS ck, sum(o)::BIGINT AS ctgt FROM cells GROUP BY 1),
        |s4 AS (SELECT source AS sk, sum(w)::BIGINT AS ms FROM w3 GROUP BY 1),
        |w4 AS (
        |  SELECT b.lang, b.source, b.o, b.n, b.kl,
        |    CAST(round(CAST(b.w AS DOUBLE)*c.ctgt*1e9/m.ms) AS BIGINT) AS w
        |  FROM w3 b JOIN c4 c ON b.source = c.ck
        |  JOIN s4 m ON b.source = m.sk
        |)
        |SELECT lang, source, o, round(w/1e9, 6) AS weight,
        |  round(w/1e9/o, 6) AS raking_factor
        |FROM w4 ORDER BY lang, source""".stripMargin,
    // Same unrolled elections on exact integer |r·m − Σr| with the
    // (dev DESC, hour ASC) tie-break; residuals are nanos from round 0.
    "events_sesd" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2
        |), cell AS (
        |  SELECT event_type, (hour_us // 86400000000 + 4) % 7 AS dow,
        |    (hour_us // 3600000000) % 24 AS hod,
        |    sum(n)::BIGINT AS cn, count(*)::BIGINT AS cc
        |  FROM (SELECT event_type, hour_us, n,
        |          (hour_us // 86400000000 + 4) % 7 AS dow,
        |          (hour_us // 3600000000) % 24 AS hod FROM hourly) x
        |  GROUP BY 1, 2, 3
        |), base AS MATERIALIZED (
        |  SELECT h.event_type, h.hour_us, h.n,
        |    CAST(round((h.n - CAST(c.cn AS DOUBLE)/c.cc)*1e9) AS BIGINT) AS r
        |  FROM (SELECT event_type, hour_us, n,
        |          (hour_us // 86400000000 + 4) % 7 AS dow,
        |          (hour_us // 3600000000) % 24 AS hod FROM hourly) h
        |  JOIN cell c ON h.event_type = c.event_type AND h.dow = c.dow
        |    AND h.hod = c.hod
        |), st1 AS (
        |  SELECT event_type, count(*)::BIGINT AS m, sum(r)::BIGINT AS sr,
        |    sum(CAST(r AS HUGEINT)*r) AS srr
        |  FROM base GROUP BY 1
        |), cand1 AS (
        |  SELECT b.event_type, b.hour_us, b.n, b.r, s.m, s.sr, s.srr,
        |    abs(CAST(b.r AS HUGEINT)*s.m - s.sr) AS dev,
        |    row_number() OVER (PARTITION BY b.event_type
        |      ORDER BY abs(CAST(b.r AS HUGEINT)*s.m - s.sr) DESC, b.hour_us) AS rn
        |  FROM base b JOIN st1 s ON b.event_type = s.event_type
        |), pick1 AS (
        |  SELECT event_type, 1 AS esd_round, hour_us, n,
        |    CASE WHEN m > 1
        |        AND CAST(m AS HUGEINT)*srr > CAST(sr AS HUGEINT)*sr THEN
        |      round(CAST(dev AS DOUBLE)/m
        |      / sqrt(CAST(CAST(m AS HUGEINT)*srr - CAST(sr AS HUGEINT)*sr AS DOUBLE)
        |        /m/(m - 1)), 6) END AS g_stat
        |  FROM cand1 WHERE rn = 1
        |), rem1 AS (
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM pick1 p
        |    WHERE p.event_type = b.event_type AND p.hour_us = b.hour_us)
        |),
        |st2 AS (
        |  SELECT event_type, count(*)::BIGINT AS m, sum(r)::BIGINT AS sr,
        |    sum(CAST(r AS HUGEINT)*r) AS srr
        |  FROM rem1 GROUP BY 1
        |), cand2 AS (
        |  SELECT b.event_type, b.hour_us, b.n, b.r, s.m, s.sr, s.srr,
        |    abs(CAST(b.r AS HUGEINT)*s.m - s.sr) AS dev,
        |    row_number() OVER (PARTITION BY b.event_type
        |      ORDER BY abs(CAST(b.r AS HUGEINT)*s.m - s.sr) DESC, b.hour_us) AS rn
        |  FROM rem1 b JOIN st2 s ON b.event_type = s.event_type
        |), pick2 AS (
        |  SELECT event_type, 2 AS esd_round, hour_us, n,
        |    CASE WHEN m > 1
        |        AND CAST(m AS HUGEINT)*srr > CAST(sr AS HUGEINT)*sr THEN
        |      round(CAST(dev AS DOUBLE)/m
        |      / sqrt(CAST(CAST(m AS HUGEINT)*srr - CAST(sr AS HUGEINT)*sr AS DOUBLE)
        |        /m/(m - 1)), 6) END AS g_stat
        |  FROM cand2 WHERE rn = 1
        |), rem2 AS (
        |  SELECT b.* FROM rem1 b
        |  WHERE NOT EXISTS (SELECT 1 FROM pick2 p
        |    WHERE p.event_type = b.event_type AND p.hour_us = b.hour_us)
        |),
        |st3 AS (
        |  SELECT event_type, count(*)::BIGINT AS m, sum(r)::BIGINT AS sr,
        |    sum(CAST(r AS HUGEINT)*r) AS srr
        |  FROM rem2 GROUP BY 1
        |), cand3 AS (
        |  SELECT b.event_type, b.hour_us, b.n, b.r, s.m, s.sr, s.srr,
        |    abs(CAST(b.r AS HUGEINT)*s.m - s.sr) AS dev,
        |    row_number() OVER (PARTITION BY b.event_type
        |      ORDER BY abs(CAST(b.r AS HUGEINT)*s.m - s.sr) DESC, b.hour_us) AS rn
        |  FROM rem2 b JOIN st3 s ON b.event_type = s.event_type
        |), pick3 AS (
        |  SELECT event_type, 3 AS esd_round, hour_us, n,
        |    CASE WHEN m > 1
        |        AND CAST(m AS HUGEINT)*srr > CAST(sr AS HUGEINT)*sr THEN
        |      round(CAST(dev AS DOUBLE)/m
        |      / sqrt(CAST(CAST(m AS HUGEINT)*srr - CAST(sr AS HUGEINT)*sr AS DOUBLE)
        |        /m/(m - 1)), 6) END AS g_stat
        |  FROM cand3 WHERE rn = 1
        |), rem3 AS (
        |  SELECT b.* FROM rem2 b
        |  WHERE NOT EXISTS (SELECT 1 FROM pick3 p
        |    WHERE p.event_type = b.event_type AND p.hour_us = b.hour_us)
        |)
        |SELECT event_type, esd_round, hour_us, n, g_stat FROM pick1
        |UNION ALL SELECT event_type, esd_round, hour_us, n, g_stat FROM pick2
        |UNION ALL SELECT event_type, esd_round, hour_us, n, g_stat FROM pick3
        |ORDER BY event_type, esd_round""".stripMargin,
    // Same integer daily tallies; flags are cross-multiplied integer
    // comparisons against the lagged day.
    "dq_metric_drift" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |    count(*)::BIGINT AS n_rows,
        |    sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_value,
        |    count(DISTINCT user_id)::BIGINT AS n_users
        |  FROM events GROUP BY 1
        |), l AS (
        |  SELECT *, lag(n_rows, 1) OVER w AS p_rows,
        |    lag(n_null_value, 1) OVER w AS p_null,
        |    lag(n_users, 1) OVER w AS p_users
        |  FROM daily WINDOW w AS (ORDER BY day_idx)
        |)
        |SELECT day_idx, n_rows, n_null_value, n_users,
        |  CASE WHEN p_rows IS NOT NULL THEN 5*abs(n_rows - p_rows) > p_rows END
        |    AS rows_drift,
        |  CASE WHEN p_null IS NOT NULL THEN 5*abs(n_null_value - p_null) > p_null END
        |    AS null_drift,
        |  CASE WHEN p_users IS NOT NULL THEN 5*abs(n_users - p_users) > p_users END
        |    AS users_drift
        |FROM l ORDER BY day_idx""".stripMargin,
    // Doubled-integer pooled median, exact 2x-vs-med2 tallies, nano
    // round-then-sum chi-square cells.
    "mood_median" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT event_type, x,
        |    row_number() OVER (ORDER BY x, event_type, h) AS rn
        |  FROM hourly
        |), na AS (SELECT count(*)::BIGINT AS na FROM hourly),
        |med2 AS (
        |  SELECT sum(CASE WHEN rn = (na + 1) // 2 THEN x ELSE 0 END)::BIGINT
        |    + sum(CASE WHEN rn = (na + 2) // 2 THEN x ELSE 0 END)::BIGINT AS med2
        |  FROM ranked CROSS JOIN na
        |), cells AS (
        |  SELECT event_type,
        |    sum(CASE WHEN 2*x > med2 THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN 2*x < med2 THEN 1 ELSE 0 END)::BIGINT AS b
        |  FROM hourly CROSS JOIN med2 GROUP BY 1
        |), tot AS (
        |  SELECT sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb, count(*)::BIGINT AS k
        |  FROM cells
        |), ee AS (
        |  SELECT k, ta + tb AS n, a, b,
        |    CASE WHEN ta + tb > 0 THEN CAST(a + b AS DOUBLE)*ta/(ta + tb) END AS ea,
        |    CASE WHEN ta + tb > 0 THEN CAST(a + b AS DOUBLE)*tb/(ta + tb) END AS eb
        |  FROM cells CROSS JOIN tot
        |), terms AS (
        |  SELECT k, n,
        |    CAST(round((CASE WHEN ea > 0 THEN (a - ea)*(a - ea)/ea ELSE 0 END
        |      + CASE WHEN eb > 0 THEN (b - eb)*(b - eb)/eb ELSE 0 END)*1e9) AS BIGINT) AS t_nano
        |  FROM ee
        |)
        |SELECT max(k) AS k_groups, max(n) AS n_used,
        |  round(sum(t_nano)/1e9, 6) AS chi2, max(k) - 1 AS dof
        |FROM terms""".stripMargin,
    // bin(v)-length buckets (exactly floor(log2)), elected-bucket upper
    // edge estimate, exact lower median certified inside the bucket.
    "logbin_quantiles" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(round(value*1e6) AS BIGINT) AS v FROM events
        |  WHERE CAST(round(value*1e6) AS BIGINT) >= 1
        |), hist AS (
        |  SELECT event_type, length(bin(v)) - 1 AS bucket, count(*)::BIGINT AS c
        |  FROM ev GROUP BY 1, 2
        |), n AS (SELECT event_type, sum(c)::BIGINT AS n FROM hist GROUP BY 1),
        |cumb AS (
        |  SELECT event_type, bucket,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM hist
        |), bp AS (
        |  SELECT c.event_type, min(bucket) AS bucket_p50
        |  FROM cumb c JOIN n USING (event_type) WHERE cum >= (n + 1) // 2
        |  GROUP BY 1
        |), tv AS (
        |  SELECT event_type, v, count(*)::BIGINT AS t FROM ev GROUP BY 1, 2
        |), cumv AS (
        |  SELECT event_type, v,
        |    sum(t) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tv
        |), xp AS (
        |  SELECT c.event_type, min(v) AS exact_v
        |  FROM cumv c JOIN n USING (event_type) WHERE cum >= (n + 1) // 2
        |  GROUP BY 1
        |)
        |SELECT n.event_type, n.n AS n_values, bp.bucket_p50,
        |  round(((CAST(1 AS BIGINT) << (bp.bucket_p50 + 1)) - 1)/1e6, 6) AS est_p50,
        |  round(xp.exact_v/1e6, 6) AS exact_p50,
        |  (length(bin(xp.exact_v)) - 1) = bp.bucket_p50 AS certified
        |FROM n JOIN bp USING (event_type) JOIN xp USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // Identical integer window sums over the joined hour spine; one
    // guarded correlation chain per row.
    "events_rolling_corr" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS x
        |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
        |), j AS (
        |  SELECT a.h, a.x AS xa, b.x AS xb
        |  FROM (SELECT h, x FROM hourly WHERE event_type = 'click') a
        |  JOIN (SELECT h, x FROM hourly WHERE event_type = 'purchase') b USING (h)
        |), w AS (
        |  SELECT h,
        |    sum(xa) OVER pw AS sx, sum(xb) OVER pw AS sy,
        |    sum(xa*xb) OVER pw AS sxy, sum(xa*xa) OVER pw AS sxx,
        |    sum(xb*xb) OVER pw AS syy,
        |    row_number() OVER (ORDER BY h) AS rn
        |  FROM j
        |  WINDOW pw AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        |)
        |SELECT h,
        |  CASE WHEN 24*sxx - sx*sx > 0 AND 24*syy - sy*sy > 0 THEN
        |    round(CAST(24*sxy - sx*sy AS DOUBLE)
        |      /sqrt(CAST(24*sxx - sx*sx AS DOUBLE)*(24*syy - sy*sy)), 6) END
        |    AS rolling_corr
        |FROM w WHERE rn >= 24 ORDER BY h""".stripMargin,
    // Doubled-integer medians, exact |2x − med2| deviations, nano
    // round-then-sum Sg²/ng terms, one F chain at display.
    "levene_test" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT event_type, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY x, h) AS rn
        |  FROM hourly
        |), sizes AS (SELECT event_type, count(*)::BIGINT AS ng FROM hourly GROUP BY 1),
        |med2 AS (
        |  SELECT r.event_type,
        |    sum(CASE WHEN rn = (ng + 1) // 2 THEN x ELSE 0 END)::BIGINT
        |      + sum(CASE WHEN rn = (ng + 2) // 2 THEN x ELSE 0 END)::BIGINT AS med2
        |  FROM ranked r JOIN sizes s ON r.event_type = s.event_type
        |  GROUP BY 1
        |), z AS (
        |  SELECT h.event_type, abs(2*h.x - m.med2) AS z
        |  FROM hourly h JOIN med2 m ON h.event_type = m.event_type
        |), g AS (
        |  SELECT event_type, count(*)::BIGINT AS ng, sum(z)::BIGINT AS sz,
        |    sum(CAST(z AS HUGEINT)*z) AS szz,
        |    CAST(round(CAST(sum(z) AS DOUBLE)*sum(z)/count(*)*1e9) AS BIGINT) AS t_nano
        |  FROM z GROUP BY 1
        |), t AS (
        |  SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS n, sum(sz)::BIGINT AS st,
        |    sum(szz) AS stt, sum(t_nano)::BIGINT AS sgn
        |  FROM g
        |)
        |SELECT k AS k_groups, n AS n_total,
        |  CASE WHEN k > 1 AND CAST(stt AS DOUBLE) <> sgn/1e9 THEN
        |    round(((n - k)*(sgn/1e9 - CAST(st AS DOUBLE)*st/n))
        |    /((k - 1)*(CAST(stt AS DOUBLE) - sgn/1e9)), 6) END AS w_stat
        |FROM t""".stripMargin,
    // Exact integer micro moments per arm; margin, Welch SE, and both
    // one-sided statistics are identical double chains.
    "ab_tost" ->
      """WITH ev AS (
        |  SELECT CAST(round(value*1e6) AS BIGINT) AS v,
        |    CASE WHEN ((user_id % 1000000)*2654435761 + 13) % 1000000 < 500000
        |      THEN 0 ELSE 1 END AS arm
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT arm, count(*)::BIGINT AS n, sum(v)::BIGINT AS sv,
        |    sum(CAST(v AS HUGEINT)*v) AS svv
        |  FROM ev GROUP BY 1
        |), m AS (
        |  SELECT arm, n, sv, CAST(sv AS DOUBLE)/n AS mu,
        |    CASE WHEN n > 1 THEN
        |      CAST(CAST(n AS HUGEINT)*svv - CAST(sv AS HUGEINT)*sv AS DOUBLE)
        |      /n/(n - 1) END AS s2
        |  FROM g
        |), ab AS (
        |  SELECT a.n AS n_a, b.n AS n_b,
        |    0.05*CAST(a.sv + b.sv AS DOUBLE)/(a.n + b.n) AS margin,
        |    b.mu - a.mu AS d, sqrt(a.s2/a.n + b.s2/b.n) AS se
        |  FROM (SELECT * FROM m WHERE arm = 0) a
        |  CROSS JOIN (SELECT * FROM m WHERE arm = 1) b
        |)
        |SELECT n_a, n_b, round(d/1e6, 6) AS diff, round(margin/1e6, 6) AS margin,
        |  round((d + margin)/se, 6) AS t_lower,
        |  round((margin - d)/se, 6) AS t_upper,
        |  (d + margin)/se > CAST(1.644854 AS DOUBLE)
        |    AND (margin - d)/se > CAST(1.644854 AS DOUBLE) AS equivalent
        |FROM ab""".stripMargin,
    // Exact integer regression moments per side; slopes/intercepts/
    // cutoff fits are identical double chains; jump at display.
    "rdd_discount" ->
      """WITH li AS (
        |  SELECT CAST(round(l_discount*100) AS BIGINT) AS dc,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE CAST(round(l_discount*100) AS BIGINT) BETWEEN 2 AND 7
        |), g AS (
        |  SELECT CASE WHEN dc < 5 THEN 'L' ELSE 'R' END AS side,
        |    count(*)::BIGINT AS n, sum(dc)::BIGINT AS sx, sum(q)::BIGINT AS sy,
        |    sum(CAST(dc AS HUGEINT)*q) AS sxy, sum(CAST(dc AS HUGEINT)*dc) AS sxx
        |  FROM li GROUP BY 1
        |), f AS (
        |  SELECT side, n,
        |    CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |      /CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE) AS slope,
        |    sx, sy
        |  FROM g
        |), e AS (
        |  SELECT side, n, slope,
        |    (CAST(sy AS DOUBLE) - slope*sx)/n AS icpt
        |  FROM f
        |), lr AS (
        |  SELECT l.n AS n_left, r.n AS n_right,
        |    l.slope AS slope_left, r.slope AS slope_right,
        |    l.icpt + l.slope*5 AS fit_left, r.icpt + r.slope*5 AS fit_right
        |  FROM (SELECT * FROM e WHERE side = 'L') l
        |  CROSS JOIN (SELECT * FROM e WHERE side = 'R') r
        |)
        |SELECT n_left, n_right, round(slope_left, 6) AS slope_left,
        |  round(slope_right, 6) AS slope_right,
        |  round(fit_left, 6) AS fit_left, round(fit_right, 6) AS fit_right,
        |  round(fit_right - fit_left, 6) AS jump
        |FROM lr""".stripMargin,
    // Same sqrt-only banding over exact integer deviations; motif
    // counts are integers ranked with the lexicographic tie-break.
    "events_sax" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    CAST(count(*) AS HUGEINT)*sum(CAST(x AS HUGEINT)*x)
        |      - CAST(sum(x) AS HUGEINT)*sum(x) AS a2
        |  FROM hourly GROUP BY 1
        |), sym AS (
        |  SELECT h.event_type, h.h,
        |    CASE WHEN CAST(h.x*st.n - st.sx AS DOUBLE)
        |        < -(0.6745*sqrt(CAST(st.a2 AS DOUBLE))) THEN 'a'
        |      WHEN CAST(h.x*st.n - st.sx AS DOUBLE) < 0 THEN 'b'
        |      WHEN CAST(h.x*st.n - st.sx AS DOUBLE)
        |        < 0.6745*sqrt(CAST(st.a2 AS DOUBLE)) THEN 'c'
        |      ELSE 'd' END AS sym
        |  FROM hourly h JOIN st ON h.event_type = st.event_type
        |), motifs AS (
        |  SELECT event_type,
        |    sym || lead(sym, 1) OVER w || lead(sym, 2) OVER w AS motif
        |  FROM sym WINDOW w AS (PARTITION BY event_type ORDER BY h)
        |), mc AS (
        |  SELECT event_type, motif, count(*)::BIGINT AS n_occ
        |  FROM motifs WHERE motif IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT event_type, rank, motif, n_occ FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY n_occ DESC, motif) AS rank
        |  FROM mc
        |) WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,
    // Three unrolled wedge-join peel rounds + a final support
    // recompute; all integer tallies.
    "graph_ktruss" -> {
      def round(i: Int, in: String) =
        s"""t$i AS (
           |  SELECT ab.a AS x, ab.b AS y, bc.b AS z
           |  FROM $in ab JOIN $in bc ON ab.b = bc.a
           |  JOIN $in ac ON ac.a = ab.a AND ac.b = bc.b
           |), s$i AS (
           |  SELECT s, t, count(*) AS sup FROM (
           |    SELECT x AS s, y AS t FROM t$i
           |    UNION ALL SELECT x, z FROM t$i
           |    UNION ALL SELECT y, z FROM t$i) GROUP BY 1, 2
           |)""".stripMargin
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
         |), p0 AS MATERIALIZED (
         |  SELECT x.item AS a, y.item AS b
         |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |), ${round(1, "p0")},
         |p1 AS MATERIALIZED (SELECT p0.a, p0.b FROM p0 JOIN s1 ON p0.a = s1.s AND p0.b = s1.t
         |  WHERE sup >= 1),
         |${round(2, "p1")},
         |p2 AS MATERIALIZED (SELECT p1.a, p1.b FROM p1 JOIN s2 ON p1.a = s2.s AND p1.b = s2.t
         |  WHERE sup >= 1),
         |${round(3, "p2")},
         |p3 AS MATERIALIZED (SELECT p2.a, p2.b FROM p2 JOIN s3 ON p2.a = s3.s AND p2.b = s3.t
         |  WHERE sup >= 1),
         |${round(4, "p3")}
         |SELECT p3.a AS item_a, p3.b AS item_b,
         |  coalesce(s4.sup, 0)::BIGINT AS support
         |FROM p3 LEFT JOIN s4 ON p3.a = s4.s AND p3.b = s4.t
         |ORDER BY item_a, item_b""".stripMargin
    },
    // Zero-weeks-inclusive CV over the global week horizon; exact
    // integer variance numerator, one sqrt, pinned class boundaries.
    "xyz_class" ->
      """WITH li AS (
        |  SELECT l_partkey, datediff('day', DATE '1970-01-01', l_shipdate) // 7 AS wk,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem
        |), h AS (SELECT count(DISTINCT wk)::BIGINT AS w FROM li),
        |pp AS (
        |  SELECT l_partkey, sum(q)::BIGINT AS sq, sum(CAST(q AS HUGEINT)*q) AS sqq,
        |    count(DISTINCT wk)::BIGINT AS active_weeks
        |  FROM li GROUP BY 1
        |), m AS (
        |  SELECT l_partkey, active_weeks, sq,
        |    sqrt(CAST(CAST(w AS HUGEINT)*sqq - CAST(sq AS HUGEINT)*sq AS DOUBLE))/sq AS cv
        |  FROM pp CROSS JOIN h
        |)
        |SELECT l_partkey, active_weeks, sq AS total_qty, round(cv, 6) AS cv,
        |  CASE WHEN cv <= 0.5 THEN 'X' WHEN cv <= 1.0 THEN 'Y' ELSE 'Z' END AS xyz
        |FROM m ORDER BY l_partkey""".stripMargin,
    // Pinned estimate convention: fixed widths for numeric columns,
    // exact summed lengths for strings; exact integer byte compare.
    "broadcast_advisor" ->
      """SELECT 'region' AS table_name, count(*)::BIGINT AS n_rows,
        |  (sum(length(r_name))::BIGINT + count(*)*4)::BIGINT AS est_bytes,
        |  sum(length(r_name))::BIGINT + count(*)*4 <= 10485760 AS broadcastable
        |FROM region
        |UNION ALL
        |SELECT 'nation', count(*)::BIGINT,
        |  (sum(length(n_name))::BIGINT + count(*)*8)::BIGINT,
        |  sum(length(n_name))::BIGINT + count(*)*8 <= 10485760
        |FROM nation
        |UNION ALL
        |SELECT 'supplier', count(*)::BIGINT,
        |  (sum(length(s_name))::BIGINT + count(*)*20)::BIGINT,
        |  sum(length(s_name))::BIGINT + count(*)*20 <= 10485760
        |FROM supplier
        |UNION ALL
        |SELECT 'customer', count(*)::BIGINT,
        |  ((sum(length(c_name)) + sum(length(c_mktsegment)))::BIGINT + count(*)*20)::BIGINT,
        |  (sum(length(c_name)) + sum(length(c_mktsegment)))::BIGINT + count(*)*20 <= 10485760
        |FROM customer
        |UNION ALL
        |SELECT 'part', count(*)::BIGINT,
        |  ((sum(length(p_name)) + sum(length(p_brand)) + sum(length(p_type)))::BIGINT + count(*)*20)::BIGINT,
        |  (sum(length(p_name)) + sum(length(p_brand)) + sum(length(p_type)))::BIGINT + count(*)*20 <= 10485760
        |FROM part
        |ORDER BY table_name""".stripMargin,
    // Same per-user lag windows and integer bucket tallies; one
    // display division.
    "gorilla_bits" ->
      """WITH ev AS (
        |  SELECT event_type, user_id, event_id,
        |    epoch_us(ts) // 1000 AS ts_ms
        |  FROM events
        |), d AS (
        |  SELECT event_type, ts_ms,
        |    ts_ms - lag(ts_ms, 1) OVER w AS gap,
        |    (ts_ms - lag(ts_ms, 1) OVER w)
        |      - (lag(ts_ms, 1) OVER w - lag(ts_ms, 2) OVER w) AS dod
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |), b AS (
        |  SELECT event_type,
        |    CASE WHEN gap IS NULL THEN 64
        |      WHEN dod IS NULL THEN
        |        CASE WHEN gap = 0 THEN 1
        |          WHEN gap >= -63 AND gap <= 64 THEN 9
        |          WHEN gap >= -255 AND gap <= 256 THEN 12
        |          WHEN gap >= -2047 AND gap <= 2048 THEN 16
        |          ELSE 36 END
        |      ELSE
        |        CASE WHEN dod = 0 THEN 1
        |          WHEN dod >= -63 AND dod <= 64 THEN 9
        |          WHEN dod >= -255 AND dod <= 256 THEN 12
        |          WHEN dod >= -2047 AND dod <= 2048 THEN 16
        |          ELSE 36 END
        |      END AS bits
        |  FROM d
        |)
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  sum(bits)::BIGINT AS total_bits,
        |  sum(CASE WHEN bits = 1 THEN 1 ELSE 0 END)::BIGINT AS n_zero_dod,
        |  sum(CASE WHEN bits = 36 THEN 1 ELSE 0 END)::BIGINT AS n_overflow,
        |  round(CAST(sum(bits) AS DOUBLE)/(64*count(*)), 6) AS compression_ratio
        |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same contiguous exclusive-prefix packing rule over the tiny
    // partition aggregate; exact integer byte accounting.
    "compaction_plan" ->
      """WITH parts AS (
        |  SELECT lang, source, count(*)::BIGINT AS n_docs,
        |    sum(n_chars)::BIGINT AS bytes
        |  FROM documents GROUP BY 1, 2
        |), c AS (
        |  SELECT lang, source, n_docs, bytes,
        |    sum(bytes) OVER (ORDER BY lang, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM parts
        |)
        |SELECT lang, source, n_docs, bytes,
        |  CAST((cum - bytes) // 65536 AS BIGINT) AS file_group
        |FROM c ORDER BY lang, source""".stripMargin,
    // One-scan exact NDVs, ranked ascending with the name tie-break.
    "sortkey_advisor" ->
      """WITH a AS (
        |  SELECT count(*)::BIGINT AS n_rows,
        |    count(DISTINCT l_returnflag)::BIGINT AS v1,
        |    count(DISTINCT l_linestatus)::BIGINT AS v2,
        |    count(DISTINCT l_shipdate)::BIGINT AS v3,
        |    count(DISTINCT l_suppkey)::BIGINT AS v4,
        |    count(DISTINCT l_partkey)::BIGINT AS v5,
        |    count(DISTINCT l_quantity)::BIGINT AS v6
        |  FROM lineitem
        |), u AS (
        |  SELECT 'l_returnflag' AS col_name, v1 AS ndv, n_rows FROM a
        |  UNION ALL SELECT 'l_linestatus', v2, n_rows FROM a
        |  UNION ALL SELECT 'l_shipdate', v3, n_rows FROM a
        |  UNION ALL SELECT 'l_suppkey', v4, n_rows FROM a
        |  UNION ALL SELECT 'l_partkey', v5, n_rows FROM a
        |  UNION ALL SELECT 'l_quantity', v6, n_rows FROM a
        |)
        |SELECT col_name, ndv, n_rows,
        |  row_number() OVER (ORDER BY ndv, col_name) AS pos,
        |  round(CAST(ndv AS DOUBLE)/n_rows, 6) AS ndv_ratio
        |FROM u ORDER BY pos""".stripMargin,
    // Per-cell nano-rounded o·ln(o·n/(rt·ct)) terms, integer ratios
    // inside every ln; doubling happens after the exact long sum.
    "corpus_gtest" ->
      """WITH obs AS (
        |  SELECT lang, source, count(*)::BIGINT AS o FROM documents GROUP BY 1, 2
        |), rt AS (SELECT lang, count(*)::BIGINT AS rt FROM documents GROUP BY 1),
        |ct AS (SELECT source, count(*)::BIGINT AS ct FROM documents GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n FROM documents),
        |terms AS (
        |  SELECT lang, source, n,
        |    CAST(round(o*ln(CAST(o AS DOUBLE)*n/(CAST(rt.rt AS DOUBLE)*ct.ct))*1e9)
        |      AS BIGINT) AS t_nano
        |  FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot
        |)
        |SELECT round(sum(t_nano)*2/1e9, 6) AS g_stat,
        |  (count(DISTINCT lang) - 1)*(count(DISTINCT source) - 1) AS dof,
        |  max(n) AS n_docs
        |FROM terms""".stripMargin,
    // Exact integer user tallies; chi-square collapses to one double
    // division; the flag compares the UNROUNDED chi2 both sides.
    "ab_srm" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events),
        |g AS (
        |  SELECT
        |    sum(CASE WHEN ((user_id % 1000000)*2654435761 + 13) % 1000000 < 500000
        |      THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN ((user_id % 1000000)*2654435761 + 13) % 1000000 < 500000
        |      THEN 0 ELSE 1 END)::BIGINT AS n_b
        |  FROM users
        |), m AS (
        |  SELECT n_a, n_b,
        |    CAST((n_a - n_b)*(n_a - n_b) AS DOUBLE)/(n_a + n_b) AS chi2
        |  FROM g
        |)
        |SELECT n_a, n_b, round(chi2, 6) AS chi2,
        |  round((n_a - n_b)/sqrt(CAST(n_a + n_b AS DOUBLE)), 6) AS z,
        |  chi2 > 3.841459::DOUBLE AS srm_flag
        |FROM m""".stripMargin,
    // Hypergeometric E/V terms nano-rounded pre-sum over exact at-risk
    // tallies; lifetimes/censoring mirror survival_km's construction.
    "logrank_test" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |hz AS (SELECT max(ts_us) AS h_end FROM ev),
        |life AS (
        |  SELECT user_id, min(ts_us) AS first_us, max(ts_us) AS last_us
        |  FROM ev GROUP BY 1
        |), lf AS (
        |  SELECT (last_us - first_us) // 86400000000 AS k,
        |    last_us >= (SELECT h_end FROM hz) - 86400000000 AS censored,
        |    CASE WHEN ((user_id % 1000000)*2654435761 + 13) % 1000000 < 500000
        |      THEN 0 ELSE 1 END AS arm
        |  FROM life
        |), deaths AS (
        |  SELECT k, count(*)::BIGINT AS d,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS d1
        |  FROM lf WHERE NOT censored GROUP BY 1
        |), risk AS (
        |  SELECT dk.gk AS k, count(*)::BIGINT AS n,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n1
        |  FROM lf, (SELECT k AS gk FROM deaths) dk WHERE lf.k >= dk.gk
        |  GROUP BY dk.gk
        |), terms AS (
        |  SELECT d.d1,
        |    CAST(round(CAST(d.d AS DOUBLE)*r.n1/r.n*1e9) AS BIGINT) AS e_nano,
        |    CASE WHEN r.n > 1 THEN
        |      CAST(round(CAST(d.d AS DOUBLE)*r.n1*(r.n - r.n1)*(r.n - d.d)
        |        /(CAST(r.n AS DOUBLE)*r.n*(r.n - 1))*1e9) AS BIGINT)
        |      ELSE 0 END AS v_nano
        |  FROM deaths d JOIN risk r ON d.k = r.k
        |), g AS (
        |  SELECT count(*)::BIGINT AS n_death_days, sum(d1)::BIGINT AS o1,
        |    sum(e_nano)::BIGINT AS se, sum(v_nano)::BIGINT AS sv
        |  FROM terms
        |)
        |SELECT n_death_days, o1, round(se/1e9, 6) AS e1, round(sv/1e9, 6) AS v,
        |  CASE WHEN sv > 0 THEN round((o1 - se/1e9)/sqrt(sv/1e9), 6) END AS z
        |FROM g""".stripMargin,
    // Tied-run closed forms over exact integers (Σ(2i−1), Σ(2i−1)²);
    // per-distinct-value terms nano-round before the sum. The window
    // here mirrors the engine's bucketed per-group order stats.
    "events_cvm" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) % 86400000000 AS m FROM events
        |), tv AS (
        |  SELECT event_type, m, count(*)::BIGINT AS t FROM ev GROUP BY 1, 2
        |), nt AS (SELECT event_type, sum(t)::BIGINT AS n FROM tv GROUP BY 1),
        |rk AS (
        |  SELECT event_type, m, t,
        |    sum(t) OVER (PARTITION BY event_type ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t AS lt
        |  FROM tv
        |), s AS (
        |  SELECT event_type, m, t, lt, t*(2*lt + t) AS s1,
        |    (4*((CAST(lt AS HUGEINT) + t)*(lt + t + 1)*(2*(lt + t) + 1)
        |      - CAST(lt AS HUGEINT)*(lt + 1)*(2*lt + 1))) // 6
        |      - 2*(CAST(t AS HUGEINT)*(2*lt + t + 1)) + t AS s2
        |  FROM rk
        |), terms AS (
        |  SELECT s.event_type, nt.n,
        |    CAST(round((t*(CAST(m AS DOUBLE)/86400000000*m/86400000000)
        |      - CAST(m AS DOUBLE)/86400000000*s1/n
        |      + CAST(s2 AS DOUBLE)/(4*CAST(n AS DOUBLE)*n))*1e9) AS BIGINT) AS term_nano
        |  FROM s JOIN nt ON s.event_type = nt.event_type
        |)
        |SELECT event_type, n AS n_events,
        |  round(1/(12*CAST(n AS DOUBLE)) + sum(term_nano)/1e9, 6) AS w2
        |FROM terms GROUP BY event_type, n ORDER BY event_type""".stripMargin,
    // Same exact HUGEINT central-moment numerators; the n-powers cancel
    // so skew/kurtosis are pure A-ratios — double chains mirrored.
    "events_jarque_bera" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(CAST(x AS HUGEINT)*x) AS s2, sum(CAST(x AS HUGEINT)*x*x) AS s3,
        |    sum(CAST(x AS HUGEINT)*x*x*x) AS s4
        |  FROM hourly GROUP BY 1
        |), a AS (
        |  SELECT event_type, n,
        |    CAST(n AS HUGEINT)*s2 - CAST(sx AS HUGEINT)*sx AS a2,
        |    CAST(n AS HUGEINT)*n*s3 - 3*CAST(n AS HUGEINT)*sx*s2
        |      + 2*CAST(sx AS HUGEINT)*sx*sx AS a3,
        |    CAST(n AS HUGEINT)*n*n*s4 - 4*CAST(n AS HUGEINT)*n*sx*s3
        |      + 6*CAST(n AS HUGEINT)*sx*sx*s2 - 3*CAST(sx AS HUGEINT)*sx*sx*sx AS a4
        |  FROM g
        |), m AS (
        |  SELECT event_type, n,
        |    CASE WHEN a2 > 0 THEN
        |      CAST(a3 AS DOUBLE)/(CAST(a2 AS DOUBLE)*sqrt(CAST(a2 AS DOUBLE))) END AS sk,
        |    CASE WHEN a2 > 0 THEN
        |      CAST(a4 AS DOUBLE)/(CAST(a2 AS DOUBLE)*CAST(a2 AS DOUBLE)) - 3 END AS ku
        |  FROM a
        |)
        |SELECT event_type, n AS n_hours, round(sk, 6) AS skewness,
        |  round(ku, 6) AS ex_kurtosis,
        |  round(CAST(n AS DOUBLE)/6*(sk*sk + ku*ku/4), 6) AS jb
        |FROM m ORDER BY event_type""".stripMargin,
    // Integer-micros running sum / running max; trough elected by
    // (depth DESC, hour ASC) over exact integers.
    "events_drawdown" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    sum(CAST(round(value*1e6) AS BIGINT)) AS f
        |  FROM events GROUP BY 1, 2
        |), c AS (
        |  SELECT event_type, h, f,
        |    sum(f) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hourly
        |), d AS (
        |  SELECT event_type, h,
        |    max(cum) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cum AS dd
        |  FROM c
        |), r AS (
        |  SELECT event_type, h, dd,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dd DESC, h) AS rn
        |  FROM d
        |)
        |SELECT event_type, count(*)::BIGINT AS n_hours,
        |  max(CASE WHEN rn = 1 THEN h END) AS trough_h,
        |  round(max(CASE WHEN rn = 1 THEN dd END)/1e6, 6) AS max_drawdown
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same exact integer window sums and single-sqrt band test.
    "events_bollinger" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), w AS (
        |  SELECT event_type, h, x,
        |    sum(x) OVER pw AS sw,
        |    sum(CAST(x AS HUGEINT)*x) OVER pw AS sw2,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM hourly
        |  WINDOW pw AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        |), b AS (
        |  SELECT event_type, h,
        |    CAST(24*x - sw AS DOUBLE) AS dev,
        |    2*sqrt(CAST(24*sw2 - CAST(sw AS HUGEINT)*sw AS DOUBLE)*24/23) AS band
        |  FROM w WHERE rn >= 24
        |)
        |SELECT event_type, count(*)::BIGINT AS n_windows,
        |  sum(CASE WHEN dev > band THEN 1 ELSE 0 END)::BIGINT AS n_upper,
        |  sum(CASE WHEN dev < -band THEN 1 ELSE 0 END)::BIGINT AS n_lower,
        |  max(CASE WHEN abs(dev) > band THEN h END) AS last_breakout_h
        |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Outlier elected on the exact integer deviation |n·x − S|, ties
    // toward the earliest hour; G is one double chain over A2.
    "grubbs_test" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(CAST(x AS HUGEINT)*x) AS s2
        |  FROM hourly GROUP BY 1
        |), a AS (
        |  SELECT event_type, n, sx,
        |    CAST(n AS HUGEINT)*s2 - CAST(sx AS HUGEINT)*sx AS a2
        |  FROM g
        |), r AS (
        |  SELECT h.event_type, h.h, h.x, a.n, a.a2,
        |    abs(CAST(a.n AS HUGEINT)*h.x - a.sx) AS d,
        |    row_number() OVER (PARTITION BY h.event_type
        |      ORDER BY abs(CAST(a.n AS HUGEINT)*h.x - a.sx) DESC, h.h) AS rn
        |  FROM hourly h JOIN a ON h.event_type = a.event_type
        |)
        |SELECT event_type, n AS n_hours, h AS outlier_h, x AS x_out,
        |  CASE WHEN n > 1 AND a2 > 0 THEN round(CAST(d AS DOUBLE)/n
        |    / sqrt(CAST(a2 AS DOUBLE)/n/(n - 1)), 6) END AS g_stat
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    // Exact integer count moments; the fits are single double chains
    // with the Poisson-or-better NULL guard mirrored.
    "events_negbin" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM hourly GROUP BY 1
        |), m AS (
        |  SELECT *, CAST(sx AS DOUBLE)/n AS mu,
        |    CASE WHEN n > 1 THEN
        |      CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE)
        |      /n/(n - 1) END AS s2
        |  FROM g
        |)
        |SELECT event_type, n AS n_hours, round(mu, 6) AS mean_rate,
        |  round(s2, 6) AS var_rate,
        |  CASE WHEN s2 > mu THEN round(mu*mu/(s2 - mu), 6) END AS r_hat,
        |  CASE WHEN s2 > mu THEN round(mu/s2, 6) END AS p_hat
        |FROM m ORDER BY event_type""".stripMargin,
    // Same exact activity ntile, tallies and cumulative band walk; the
    // degenerate-arm guards mirror the engine's CASE arms.
    "uplift_qini" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
        |), mid AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM ev),
        |sided AS (
        |  SELECT *, CASE WHEN ts_us <= mid THEN 0 ELSE 1 END AS side
        |  FROM ev CROSS JOIN mid
        |), users AS (
        |  SELECT user_id,
        |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS n_train,
        |    max(CASE WHEN side = 0 AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y_train,
        |    max(CASE WHEN side = 1 AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y_test
        |  FROM sided GROUP BY 1
        |), u2 AS (
        |  SELECT *, CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000
        |      < 500000 THEN 0 ELSE 1 END AS arm,
        |    ntile(5) OVER (ORDER BY -n_train, user_id)::BIGINT AS band
        |  FROM users WHERE n_train > 0
        |), bands AS (
        |  SELECT band,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nt,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS nc,
        |    sum(CASE WHEN arm = 1 THEN y_train ELSE 0 END)::BIGINT AS yt_tr,
        |    sum(CASE WHEN arm = 0 THEN y_train ELSE 0 END)::BIGINT AS yc_tr,
        |    sum(CASE WHEN arm = 1 THEN y_test ELSE 0 END)::BIGINT AS yt,
        |    sum(CASE WHEN arm = 0 THEN y_test ELSE 0 END)::BIGINT AS yc
        |  FROM u2 GROUP BY 1
        |), b2 AS (
        |  SELECT *, CASE WHEN nt > 0 AND nc > 0
        |    THEN CAST(yt_tr AS DOUBLE)/nt - CAST(yc_tr AS DOUBLE)/nc
        |    ELSE CAST(-1 AS DOUBLE) END AS uplift_train
        |  FROM bands
        |), ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY uplift_train DESC, band)::BIGINT
        |      AS rank,
        |    sum(nt) OVER w AS cnt, sum(nc) OVER w AS cnc,
        |    sum(yt) OVER w AS cyt, sum(yc) OVER w AS cyc
        |  FROM b2
        |  WINDOW w AS (ORDER BY uplift_train DESC, band ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT rank, band, nt, nc, round(uplift_train, 6) AS uplift_train,
        |  CASE WHEN cnc > 0 THEN round(cyt - CAST(cyc AS DOUBLE)*cnt/cnc, 6) END
        |    AS qini_test
        |FROM ranked ORDER BY rank""".stripMargin,
    // Same arrival-rank quarters, exact cumulative tallies, pooled z,
    // and the classic OBF boundary literals.
    "ab_group_sequential" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS x,
        |    CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000
        |      < 500000 THEN 0 ELSE 1 END AS arm
        |  FROM events
        |), n AS (SELECT count(*)::BIGINT AS n_all FROM ev),
        |ranked AS (
        |  SELECT arm, x,
        |    (row_number() OVER (ORDER BY ts_us, event_id) - 1) * 4 // n_all + 1
        |      AS look
        |  FROM ev CROSS JOIN n
        |), pl AS (
        |  SELECT look, arm, count(*)::BIGINT AS nn, sum(x)::BIGINT AS xs
        |  FROM ranked GROUP BY 1, 2
        |), cum AS (
        |  SELECT look, arm,
        |    sum(nn) OVER (PARTITION BY arm ORDER BY look
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cn,
        |    sum(xs) OVER (PARTITION BY arm ORDER BY look
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cx
        |  FROM pl
        |), j AS (
        |  SELECT a.look, a.cn AS n_a, a.cx AS x_a, b.cn AS n_b, b.cx AS x_b,
        |    CAST(a.cx + b.cx AS DOUBLE)/(a.cn + b.cn) AS pp
        |  FROM (SELECT * FROM cum WHERE arm = 0) a
        |  JOIN (SELECT * FROM cum WHERE arm = 1) b ON a.look = b.look
        |), z AS (
        |  SELECT *, (CAST(x_b AS DOUBLE)/n_b - CAST(x_a AS DOUBLE)/n_a)
        |    / sqrt(pp*(1 - pp)*(CAST(1 AS DOUBLE)/n_a + CAST(1 AS DOUBLE)/n_b))
        |    AS zz
        |  FROM j
        |)
        |SELECT look, n_a, n_b, round(zz, 6) AS z,
        |  CAST(CASE look WHEN 1 THEN 4.049 WHEN 2 THEN 2.863
        |    WHEN 3 THEN 2.337 ELSE 2.024 END AS DOUBLE) AS obf_boundary,
        |  abs(zz) >= CAST(CASE look WHEN 1 THEN 4.049 WHEN 2 THEN 2.863
        |    WHEN 3 THEN 2.337 ELSE 2.024 END AS DOUBLE) AS crossed
        |FROM z ORDER BY look""".stripMargin,
    // Three unrolled Newton iterations with the engine's nano
    // round-then-sum gradients/Hessians and the identical 2×2 solve —
    // the weight trajectory is bit-identical by construction.
    "logistic_newton" -> {
      def step(prev: String, out: String) =
        s"""s_$out AS (
          |  SELECT w0, w1,
          |    sum(CAST(round((y - (1/(1 + exp(-(w0) - (w1)*x))))*1e9, 0) AS BIGINT))/1e9 AS g0,
          |    sum(CAST(round((y - (1/(1 + exp(-(w0) - (w1)*x))))*x*1e9, 0) AS BIGINT))/1e9 AS g1,
          |    sum(CAST(round((1/(1 + exp(-(w0) - (w1)*x)))*(1 - (1/(1 + exp(-(w0) - (w1)*x))))*1e9, 0) AS BIGINT))/1e9 AS h00,
          |    sum(CAST(round((1/(1 + exp(-(w0) - (w1)*x)))*(1 - (1/(1 + exp(-(w0) - (w1)*x))))*x*1e9, 0) AS BIGINT))/1e9 AS h01,
          |    sum(CAST(round((1/(1 + exp(-(w0) - (w1)*x)))*(1 - (1/(1 + exp(-(w0) - (w1)*x))))*x*x*1e9, 0) AS BIGINT))/1e9 AS h11
          |  FROM base CROSS JOIN $prev GROUP BY w0, w1
          |), $out AS (
          |  SELECT w0 + ((g0*h11 - g1*h01)/(h00*h11 - h01*h01)) AS w0,
          |         w1 + ((h00*g1 - h01*g0)/(h00*h11 - h01*h01)) AS w1
          |  FROM s_$out
          |)""".stripMargin
      s"""WITH base AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN CAST(1 AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS y,
        |    CAST(round(value*1000, 0) AS BIGINT)/1e3/100 AS x
        |  FROM events
        |), w_0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1),
        |${step("w_0", "w_1")},
        |${step("w_1", "w_2")},
        |${step("w_2", "w_3")}
        |SELECT count(*)::BIGINT AS n,
        |  sum(y)::BIGINT AS n_pos, round(w0, 6) AS w0, round(w1, 6) AS w1,
        |  round(sum(CAST(round((1/(1 + exp(-(w0) - (w1)*x)))*1e9, 0) AS BIGINT))/1e9/count(*), 6)
        |    AS mean_p
        |FROM base CROSS JOIN w_3 GROUP BY w0, w1""".stripMargin
    },
    // Exact quartile bins; nano-rounded c·ln c cell terms; MI is one
    // double chain per lag.
    "events_lagged_mi" ->
      """WITH hourly AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1
        |), binned AS (
        |  SELECT hour_us, ntile(4) OVER (ORDER BY x, hour_us)::BIGINT AS bin
        |  FROM hourly
        |), lagged AS (
        |  SELECT 1::BIGINT AS lag, bin, lag(bin, 1) OVER (ORDER BY hour_us) AS prev
        |  FROM binned
        |  UNION ALL
        |  SELECT 24::BIGINT, bin, lag(bin, 24) OVER (ORDER BY hour_us) FROM binned
        |), cells AS (
        |  SELECT lag, bin, prev, count(*)::BIGINT AS c
        |  FROM lagged WHERE prev IS NOT NULL GROUP BY 1, 2, 3
        |), a AS (
        |  SELECT lag, sum(c)::BIGINT AS n,
        |    sum(CAST(round(c*ln(c)*1e9, 0) AS BIGINT))::BIGINT AS sxy
        |  FROM cells GROUP BY 1
        |), bx AS (
        |  SELECT lag, sum(CAST(round(cx*ln(cx)*1e9, 0) AS BIGINT))::BIGINT AS sx
        |  FROM (SELECT lag, bin, sum(c)::BIGINT AS cx FROM cells GROUP BY 1, 2)
        |  GROUP BY 1
        |), by_ AS (
        |  SELECT lag, sum(CAST(round(cy*ln(cy)*1e9, 0) AS BIGINT))::BIGINT AS sy
        |  FROM (SELECT lag, prev, sum(c)::BIGINT AS cy FROM cells GROUP BY 1, 2)
        |  GROUP BY 1
        |)
        |SELECT a.lag, n AS n_pairs,
        |  round((ln(n) - sx/1e9/n) + (ln(n) - sy/1e9/n) - (ln(n) - sxy/1e9/n), 6)
        |    AS mi_nats
        |FROM a JOIN bx ON a.lag = bx.lag JOIN by_ ON a.lag = by_.lag
        |ORDER BY a.lag""".stripMargin,
    // Exact lower order statistics at the ceil(p·n) ranks; the tail
    // ratio is one exact-integer division.
    "events_tail_ratio" ->
      """WITH base AS (
        |  SELECT event_type, event_id, CAST(round(value*1000, 0) AS BIGINT) AS v
        |  FROM events
        |), sizes AS (
        |  SELECT event_type, count(*)::BIGINT AS n FROM base GROUP BY 1
        |), r1 AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rk
        |  FROM base
        |), picked AS (
        |  SELECT r1.event_type, n, v, rk FROM r1 JOIN sizes USING (event_type)
        |  WHERE rk = (n + 1) // 2 OR rk = (9*n + 9) // 10 OR rk = (99*n + 99) // 100
        |), g AS (
        |  SELECT event_type, max(n) AS n,
        |    max(CASE WHEN rk = (n + 1) // 2 THEN v END) AS p50_m,
        |    max(CASE WHEN rk = (9*n + 9) // 10 THEN v END) AS p90_m,
        |    max(CASE WHEN rk = (99*n + 99) // 100 THEN v END) AS p99_m
        |  FROM picked GROUP BY 1
        |)
        |SELECT event_type, n, round(p50_m/1e3, 3) AS p50,
        |  round(p90_m/1e3, 3) AS p90, round(p99_m/1e3, 3) AS p99,
        |  CASE WHEN p50_m > 0 THEN round(CAST(p99_m AS DOUBLE)/p50_m, 6) END
        |    AS tail_ratio_99_50
        |FROM g ORDER BY event_type""".stripMargin,
    // Exact distinct tallies; Chapman is one double chain.
    "population_estimate" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
        |), mid AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM ev),
        |halves AS (
        |  SELECT user_id,
        |    max(CASE WHEN ts_us <= mid THEN 1 ELSE 0 END) AS h1,
        |    max(CASE WHEN ts_us > mid THEN 1 ELSE 0 END) AS h2
        |  FROM ev CROSS JOIN mid GROUP BY 1
        |), a AS (
        |  SELECT sum(h1)::BIGINT AS n1, sum(h2)::BIGINT AS n2,
        |    sum(h1 * h2)::BIGINT AS m, count(*)::BIGINT AS observed
        |  FROM halves
        |)
        |SELECT n1, n2, m, observed,
        |  round(CAST((n1 + 1) AS DOUBLE)*(n2 + 1)/(m + 1) - 1, 2)
        |    AS chapman_estimate,
        |  round(CAST((n1 + 1) AS DOUBLE)*(n2 + 1)/(m + 1) - 1 - observed, 2)
        |    AS implied_unseen
        |FROM a""".stripMargin,
    // Same md5-keyspace hash; observed pairs vs birthday expectation
    // as one exact-integer-ratio double.
    "hash_collision_audit" ->
      """WITH b AS (
        |  SELECT ('0x' || substring(md5(c_custkey::VARCHAR), 1, 15))::BIGINT % 1024
        |    AS bucket, count(*)::BIGINT AS c
        |  FROM customer GROUP BY 1
        |), a AS (
        |  SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS occupied,
        |    max(c)::BIGINT AS max_bucket,
        |    sum(c * (c - 1) // 2)::BIGINT AS obs_collisions
        |  FROM b
        |)
        |SELECT n, 1024::BIGINT AS n_buckets, occupied, max_bucket, obs_collisions,
        |  round(CAST(n AS DOUBLE)*(n - 1)/2/1024, 6) AS exp_collisions,
        |  round(CAST(obs_collisions AS DOUBLE)
        |    / (CAST(n AS DOUBLE)*(n - 1)/2/1024), 6) AS collision_ratio
        |FROM a""".stripMargin,
    // Nano-rounded c·ln c terms per cell; H/MI/U repeat the engine's
    // double chains.
    "events_uncertainty" ->
      """WITH cells AS (
        |  SELECT event_type AS x, (epoch_us(ts) // 3600000000) % 24 AS y,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2
        |), agg AS (
        |  SELECT sum(c)::BIGINT AS n,
        |    sum(CAST(round(c*ln(c)*1e9, 0) AS BIGINT))::BIGINT AS sxy
        |  FROM cells
        |), lx AS (
        |  SELECT sum(CAST(round(cx*ln(cx)*1e9, 0) AS BIGINT))::BIGINT AS sx
        |  FROM (SELECT x, sum(c)::BIGINT AS cx FROM cells GROUP BY 1)
        |), ly AS (
        |  SELECT sum(CAST(round(cy*ln(cy)*1e9, 0) AS BIGINT))::BIGINT AS sy
        |  FROM (SELECT y, sum(c)::BIGINT AS cy FROM cells GROUP BY 1)
        |), h AS (
        |  SELECT n, ln(n) - sx/1e9/n AS hx, ln(n) - sy/1e9/n AS hy,
        |    ln(n) - sxy/1e9/n AS hxy
        |  FROM agg CROSS JOIN lx CROSS JOIN ly
        |)
        |SELECT n, round(hx, 6) AS h_type, round(hy, 6) AS h_hour,
        |  round(hx + hy - hxy, 6) AS mi,
        |  round((hx + hy - hxy)/hx, 6) AS u_type_given_hour,
        |  round((hx + hy - hxy)/hy, 6) AS u_hour_given_type
        |FROM h""".stripMargin,
    // Exact signed integer block sums; energies are HUGEINT squares;
    // incomplete trailing blocks dropped by the exact size gate.
    "events_wavelet" ->
      """WITH hourly AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1
        |), idx AS (
        |  SELECT x, row_number() OVER (ORDER BY hour_us) - 1 AS i FROM hourly
        |), sc AS (
        |  SELECT 1::BIGINT AS scale, i // 2 AS b,
        |    CASE WHEN (i // 1) % 2 = 0 THEN x ELSE -x END AS t FROM idx
        |  UNION ALL SELECT 2::BIGINT, i // 4,
        |    CASE WHEN (i // 2) % 2 = 0 THEN x ELSE -x END FROM idx
        |  UNION ALL SELECT 3::BIGINT, i // 8,
        |    CASE WHEN (i // 4) % 2 = 0 THEN x ELSE -x END FROM idx
        |), blocks AS (
        |  SELECT scale, b, count(*)::BIGINT AS cnt, sum(t)::BIGINT AS d
        |  FROM sc GROUP BY 1, 2
        |), keep AS (
        |  SELECT * FROM blocks
        |  WHERE cnt = CASE scale WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END
        |), per AS (
        |  SELECT scale, count(*)::BIGINT AS n_blocks,
        |    sum(CAST(d AS HUGEINT) * d) AS energy
        |  FROM keep GROUP BY 1
        |), tot AS (SELECT sum(energy) AS etot FROM per)
        |SELECT scale, n_blocks, CAST(energy AS BIGINT) AS energy,
        |  CASE WHEN etot <> 0 THEN
        |    round(CAST(energy AS DOUBLE)/CAST(etot AS DOUBLE), 6) END AS energy_share
        |FROM per CROSS JOIN tot ORDER BY scale""".stripMargin,
    // Deterministic top-k set ((v DESC, event_id) total order); nano
    // ln terms round-then-sum; α is one double division.
    "events_tail_index" ->
      """WITH base AS (
        |  SELECT event_id, CAST(round(value*1000, 0) AS BIGINT) AS v
        |  FROM events WHERE round(value*1000, 0) > 0
        |), top AS (
        |  SELECT v, event_id, CAST(round(ln(v)*1e9, 0) AS BIGINT) AS lterm
        |  FROM base ORDER BY v DESC, event_id LIMIT 100
        |), kth AS (
        |  SELECT v AS vk FROM top ORDER BY v ASC, event_id DESC LIMIT 1
        |), agg AS (
        |  SELECT count(*)::BIGINT AS k, sum(lterm)::BIGINT AS lsum FROM top
        |)
        |SELECT k, round(vk/1e3, 3) AS x_k,
        |  round((k - 1)*1e9/CAST(lsum
        |    - k*CAST(round(ln(vk)*1e9, 0) AS BIGINT) AS DOUBLE), 6) AS hill_alpha
        |FROM agg CROSS JOIN kth""".stripMargin,
    // Exact user-level moments per arm (HUGEINT); the delta-method SE
    // and the z repeat the engine's double chains verbatim.
    "ab_ratio_delta" ->
      """WITH u AS (
        |  SELECT CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000
        |      < 500000 THEN 0 ELSE 1 END AS arm, user_id,
        |    sum(CAST(round(value * 1000000, 0) AS BIGINT))::BIGINT AS x,
        |    count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT arm, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(CAST(x AS HUGEINT)*x) AS sxx,
        |    sum(CAST(y AS HUGEINT)*y) AS syy, sum(CAST(x AS HUGEINT)*y) AS sxy
        |  FROM u GROUP BY 1
        |), w AS (
        |  SELECT *, CAST(sx AS DOUBLE)/sy AS r,
        |    CASE WHEN n > 1 THEN CAST(CAST(n AS HUGEINT)*sxx
        |      - CAST(sx AS HUGEINT)*sx AS DOUBLE)/n/(n - 1) END AS vx,
        |    CASE WHEN n > 1 THEN CAST(CAST(n AS HUGEINT)*syy
        |      - CAST(sy AS HUGEINT)*sy AS DOUBLE)/n/(n - 1) END AS vy,
        |    CASE WHEN n > 1 THEN CAST(CAST(n AS HUGEINT)*sxy
        |      - CAST(sx AS HUGEINT)*sy AS DOUBLE)/n/(n - 1) END AS cxy
        |  FROM g
        |), w2 AS (
        |  SELECT *, sqrt((vx - 2*r*cxy + r*r*vy)/n)/(CAST(sy AS DOUBLE)/n) AS se
        |  FROM w
        |)
        |SELECT a.n AS n_a, b.n AS n_b, round(a.r/1e6, 6) AS ratio_a,
        |  round(b.r/1e6, 6) AS ratio_b, round(a.se/1e6, 6) AS se_ratio_a,
        |  round(b.se/1e6, 6) AS se_ratio_b,
        |  round((b.r - a.r)/sqrt(a.se*a.se + b.se*b.se), 6) AS z
        |FROM (SELECT * FROM w2 WHERE arm = 0) a
        |CROSS JOIN (SELECT * FROM w2 WHERE arm = 1) b""".stripMargin,
    // Exact lower-median order statistic per arm; QTE is an integer
    // difference displayed once.
    "ab_qte" ->
      """WITH base AS (
        |  SELECT event_id, CAST(round(value*1000, 0) AS BIGINT) AS v,
        |    CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000
        |      < 500000 THEN 0 ELSE 1 END AS arm
        |  FROM events
        |), sizes AS (
        |  SELECT arm, count(*)::BIGINT AS n FROM base GROUP BY 1
        |), r1 AS (
        |  SELECT arm, v,
        |    row_number() OVER (PARTITION BY arm ORDER BY v, event_id) AS rk
        |  FROM base
        |), med AS (
        |  SELECT r1.arm, n, v AS med FROM r1 JOIN sizes USING (arm)
        |  WHERE rk = (n + 1) // 2
        |)
        |SELECT a.n AS n_a, b.n AS n_b, round(a.med/1e3, 3) AS median_a,
        |  round(b.med/1e3, 3) AS median_b,
        |  round((b.med - a.med)/1e3, 3) AS qte_median
        |FROM (SELECT * FROM med WHERE arm = 0) a
        |CROSS JOIN (SELECT * FROM med WHERE arm = 1) b""".stripMargin,
    // All-integer concentration tallies (HUGEINT), one display division.
    "source_simpson" ->
      """WITH lt AS (
        |  SELECT source, tok, count(*)::BIGINT AS c FROM (
        |    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |    FROM documents) x
        |  WHERE length(tok) > 0 GROUP BY 1, 2
        |), agg AS (
        |  SELECT source, count(*)::BIGINT AS n_types, sum(c)::BIGINT AS n_tokens,
        |    sum(CAST(c AS HUGEINT) * (c - 1)) AS num
        |  FROM lt GROUP BY 1
        |)
        |SELECT source, n_tokens, n_types,
        |  round(1 - CAST(num AS DOUBLE)
        |    / CAST(CAST(n_tokens AS HUGEINT)*(n_tokens - 1) AS DOUBLE), 6) AS simpson
        |FROM agg ORDER BY source""".stripMargin,
    // Exact per-arm micro moments; the pooled SD combines the two
    // variance numerators explicitly, mirroring the engine's join.
    "ab_effect_size" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000 < 500000
        |      THEN 0 ELSE 1 END AS arm,
        |    count(*)::BIGINT AS n,
        |    sum(CAST(round(value * 1000000, 0) AS BIGINT))::BIGINT AS sv,
        |    sum(CAST(CAST(round(value * 1000000, 0) AS BIGINT) AS HUGEINT)
        |      * CAST(round(value * 1000000, 0) AS BIGINT)) AS svv
        |  FROM events GROUP BY 1, 2
        |), w AS (
        |  SELECT *, CAST(CAST(n AS HUGEINT)*svv - CAST(sv AS HUGEINT)*sv AS DOUBLE)/n
        |    AS varnum
        |  FROM g
        |), j AS (
        |  SELECT a.event_type, a.n AS n_a, b.n AS n_b,
        |    CAST(b.sv AS DOUBLE)/b.n - CAST(a.sv AS DOUBLE)/a.n AS dlt,
        |    sqrt((a.varnum + b.varnum)/(a.n + b.n - 2)) AS sp
        |  FROM (SELECT * FROM w WHERE arm = 0) a
        |  JOIN (SELECT * FROM w WHERE arm = 1) b ON a.event_type = b.event_type
        |)
        |SELECT event_type, n_a, n_b, round(dlt/1e6, 6) AS mean_diff,
        |  round(dlt/sp, 6) AS cohens_d,
        |  round(dlt/sp * (1 - CAST(3 AS DOUBLE)/(4*(n_a + n_b - 2) - 1)), 6)
        |    AS hedges_g
        |FROM j ORDER BY event_type""".stripMargin,
    // Exact tallies; the pooled-SE z repeats one double chain.
    "returns_ztest" ->
      """WITH li AS (
        |  SELECT epoch_us(l_shipdate) AS ts_us,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        |  FROM lineitem
        |), mid AS (
        |  SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM li
        |), halves AS (
        |  SELECT CASE WHEN ts_us <= mid THEN 0 ELSE 1 END AS half,
        |    count(*)::BIGINT AS n, sum(r)::BIGINT AS x
        |  FROM li CROSS JOIN mid GROUP BY 1
        |), j AS (
        |  SELECT a.n AS n1, a.x AS x1, b.n AS n2, b.x AS x2,
        |    CAST(a.x + b.x AS DOUBLE)/(a.n + b.n) AS pp
        |  FROM (SELECT * FROM halves WHERE half = 0) a
        |  CROSS JOIN (SELECT * FROM halves WHERE half = 1) b
        |)
        |SELECT n1, x1, n2, x2, round(CAST(x1 AS DOUBLE)/n1, 6) AS p1,
        |  round(CAST(x2 AS DOUBLE)/n2, 6) AS p2,
        |  round((CAST(x1 AS DOUBLE)/n1 - CAST(x2 AS DOUBLE)/n2)
        |    / sqrt(pp*(1 - pp)*(CAST(1 AS DOUBLE)/n1 + CAST(1 AS DOUBLE)/n2)), 6)
        |    AS z
        |FROM j""".stripMargin,
    // Exact lower-median order statistics; the fence is an integer
    // cross-product, so no float enters the outlier decision.
    "events_mad_outliers" ->
      """WITH base AS (
        |  SELECT event_type, event_id, CAST(round(value*1000, 0) AS BIGINT) AS v
        |  FROM events
        |), sizes AS (
        |  SELECT event_type, count(*)::BIGINT AS n FROM base GROUP BY 1
        |), r1 AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rk
        |  FROM base
        |), med AS (
        |  SELECT r1.event_type, v AS med FROM r1 JOIN sizes USING (event_type)
        |  WHERE rk = (n + 1) // 2
        |), d AS (
        |  SELECT b.event_type, b.event_id, abs(b.v - med) AS dd, med
        |  FROM base b JOIN med USING (event_type)
        |), r2 AS (
        |  SELECT event_type, dd,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dd, event_id) AS rk
        |  FROM d
        |), mad AS (
        |  SELECT r2.event_type, dd AS mad FROM r2 JOIN sizes USING (event_type)
        |  WHERE rk = (n + 1) // 2
        |)
        |SELECT d.event_type, count(*)::BIGINT AS n,
        |  round(max(med)/1e3, 3) AS median, round(max(mad)/1e3, 3) AS mad,
        |  sum(CASE WHEN dd * 10000 > mad * 44478 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_outliers,
        |  round(CAST(sum(CASE WHEN dd * 10000 > mad * 44478 THEN 1 ELSE 0 END)
        |    AS DOUBLE)/count(*), 6) AS outlier_share
        |FROM d JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Exact tallies; pbar/limits/flag repeat the engine's double trees
    // (the flag compares the UNROUNDED limits).
    "spc_pchart" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*)::BIGINT AS n,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS x
        |  FROM events GROUP BY 1
        |), pooled AS (
        |  SELECT sum(n)::BIGINT AS sn, sum(x)::BIGINT AS sx FROM daily
        |), j AS (
        |  SELECT *, CAST(sx AS DOUBLE)/sn AS pbar,
        |    sqrt((CAST(sx AS DOUBLE)/sn)*(1 - CAST(sx AS DOUBLE)/sn)/n) AS sig
        |  FROM daily CROSS JOIN pooled
        |)
        |SELECT day_idx, n, x, round(CAST(x AS DOUBLE)/n, 6) AS p_hat,
        |  round(pbar, 6) AS p_bar, round(pbar + 3*sig, 6) AS ucl,
        |  round(greatest(pbar - 3*sig, CAST(0 AS DOUBLE)), 6) AS lcl,
        |  (CAST(x AS DOUBLE)/n > pbar + 3*sig
        |    OR CAST(x AS DOUBLE)/n < greatest(pbar - 3*sig, CAST(0 AS DOUBLE)))
        |    AS out_of_control
        |FROM j ORDER BY day_idx""".stripMargin,
    // Nano-rounded leave-one-out means; the variance numerator is
    // exact HUGEINT, mirroring the engine's DECIMAL moments.
    "jackknife_days" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, count(*)::BIGINT AS n,
        |    sum(CAST(round(value * 1000000, 0) AS BIGINT))::BIGINT AS sv
        |  FROM events GROUP BY 1
        |), tot AS (
        |  SELECT count(*)::BIGINT AS d, sum(n)::BIGINT AS nn, sum(sv)::BIGINT AS ss
        |  FROM daily
        |), loo AS (
        |  SELECT d, nn, ss,
        |    CAST(round(CAST(ss - sv AS DOUBLE)/(nn - n)/1e6*1e9, 0) AS BIGINT) AS tn
        |  FROM daily CROSS JOIN tot
        |), agg AS (
        |  SELECT d, nn, ss, sum(tn)::BIGINT AS st, sum(CAST(tn AS HUGEINT) * tn) AS stt
        |  FROM loo GROUP BY 1, 2, 3
        |)
        |SELECT d AS n_days, round(CAST(ss AS DOUBLE)/nn/1e6, 6) AS mean_value,
        |  round(sqrt((d - 1) * CAST(CAST(d AS HUGEINT)*stt
        |      - CAST(st AS HUGEINT)*st AS DOUBLE)
        |    / (CAST(d AS DOUBLE)*d)) / 1e9, 6) AS se_jack
        |FROM agg""".stripMargin,
    // Exact integer moments for all three pairwise correlations; the
    // partial-r chain repeats the engine's expression verbatim.
    "events_partial_corr" -> {
      def r(xy: String, x: String, y: String, xx: String, yy: String) =
        s"""(CAST(CAST(n AS HUGEINT)*$xy - CAST($x AS HUGEINT)*$y AS DOUBLE)
          / sqrt(CAST(CAST(n AS HUGEINT)*$xx - CAST($x AS HUGEINT)*$x AS DOUBLE)
            * CAST(CAST(n AS HUGEINT)*$yy - CAST($y AS HUGEINT)*$y AS DOUBLE)))"""
      val rvh = r("s_vh", "s_v", "s_h", "s_vv", "s_hh")
      val rvw = r("s_vw", "s_v", "s_w", "s_vv", "s_ww")
      val rhw = r("s_hw", "s_h", "s_w", "s_hh", "s_ww")
      s"""WITH base AS (
        |  SELECT CAST(round(value * 1000, 0) AS BIGINT) AS v,
        |    (epoch_us(ts) // 3600000000) % 24 AS h,
        |    ((epoch_us(ts) // 86400000000) + 4) % 7 AS w
        |  FROM events
        |), m AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(v)::BIGINT AS s_v, sum(h)::BIGINT AS s_h, sum(w)::BIGINT AS s_w,
        |    sum(CAST(v AS HUGEINT) * v) AS s_vv, sum(CAST(h AS HUGEINT) * h) AS s_hh,
        |    sum(CAST(w AS HUGEINT) * w) AS s_ww, sum(CAST(v AS HUGEINT) * h) AS s_vh,
        |    sum(CAST(v AS HUGEINT) * w) AS s_vw, sum(CAST(h AS HUGEINT) * w) AS s_hw
        |  FROM base
        |)
        |SELECT n, round($rvh, 6) AS r_vh, round($rvw, 6) AS r_vw,
        |  round($rhw, 6) AS r_hw,
        |  round(($rvh - $rvw*$rhw)
        |    / sqrt((1 - $rvw*$rvw)*(1 - $rhw*$rhw)), 6) AS r_vh_given_w
        |FROM m""".stripMargin
    },
    // Complete day×type grid; average ranks via the integer doubling
    // r2 = 2·minrank + ties − 1, so rank sums are exact.
    "events_friedman" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2
        |), grid AS (
        |  SELECT d.day_idx, t.event_type, coalesce(x.n, 0) AS n
        |  FROM (SELECT DISTINCT day_idx FROM daily) d
        |  CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
        |  LEFT JOIN daily x ON x.day_idx = d.day_idx AND x.event_type = t.event_type
        |), ranked AS (
        |  SELECT event_type,
        |    2*rank() OVER (PARTITION BY day_idx ORDER BY n)
        |      + count(*) OVER (PARTITION BY day_idx, n) - 1 AS r2
        |  FROM grid
        |), pt AS (
        |  SELECT event_type, count(*)::BIGINT AS n_blocks,
        |    sum(r2)::BIGINT AS r2_sum
        |  FROM ranked GROUP BY 1
        |), tot AS (
        |  SELECT count(*)::BIGINT AS k, max(n_blocks)::BIGINT AS nb,
        |    sum(r2_sum*r2_sum)::BIGINT AS sq
        |  FROM pt
        |)
        |SELECT event_type, n_blocks, round(r2_sum/2e0, 1) AS rank_sum,
        |  round(3*CAST(sq AS DOUBLE)/(nb*k*(k + 1)) - 3*nb*(k + 1), 6) AS q_stat
        |FROM pt CROSS JOIN tot ORDER BY event_type""".stripMargin,
    // S and the tie-corrected variance are exact integers; only the
    // continuity-corrected z touches doubles.
    "events_mannkendall" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), prs AS (
        |  SELECT a.event_type, sign(b.x - a.x)::BIGINT AS sg
        |  FROM hourly a JOIN hourly b
        |    ON a.event_type = b.event_type AND a.hour_us < b.hour_us
        |), ss AS (
        |  SELECT event_type, sum(sg)::BIGINT AS s_stat FROM prs GROUP BY 1
        |), lv AS (
        |  SELECT event_type, x, count(*)::BIGINT AS t
        |  FROM hourly GROUP BY 1, 2
        |), ties AS (
        |  SELECT event_type, count(*)::BIGINT AS n_levels, sum(t)::BIGINT AS n_hours,
        |    sum(t*(t - 1)*(2*t + 5))::BIGINT AS tie_corr
        |  FROM lv GROUP BY 1
        |), j AS (
        |  SELECT ss.event_type, n_hours, s_stat,
        |    n_hours*(n_hours - 1)*(2*n_hours + 5) - tie_corr AS var18
        |  FROM ss JOIN ties ON ss.event_type = ties.event_type
        |)
        |SELECT event_type, n_hours, s_stat, round(var18/18e0, 6) AS var_s,
        |  round(CASE WHEN s_stat > 0 THEN (s_stat - 1)/sqrt(var18/18e0)
        |    WHEN s_stat < 0 THEN (s_stat + 1)/sqrt(var18/18e0)
        |    ELSE CAST(0 AS DOUBLE) END, 6) AS z
        |FROM j ORDER BY event_type""".stripMargin,
    // Boundary events ordered by the same sign-folded integer key; the
    // per-day max over the running sum is order-invariant inside ties.
    "concurrency_peak" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |), f AS (
        |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w >= 1800000000
        |    OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), sx AS (
        |  SELECT *, sum(news) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM f
        |), g AS (
        |  SELECT user_id, sess, min(ts_us) AS start_us, max(ts_us) AS end_us
        |  FROM sx GROUP BY 1, 2
        |), d AS (
        |  SELECT start_us AS t, 1::BIGINT AS delta FROM g
        |  UNION ALL SELECT end_us AS t, -1::BIGINT AS delta FROM g
        |), c AS (
        |  SELECT t, delta,
        |    (sum(delta) OVER (ORDER BY t*2 + CASE WHEN delta < 0 THEN 1 ELSE 0 END
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
        |  FROM d
        |)
        |SELECT t // 86400000000 AS day_idx, max(cum)::BIGINT AS peak_concurrency,
        |  sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT AS n_starts
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // Exact cents; nano-rounded ln terms summed as integers; the
    // geometric/arithmetic ratio repeats the engine's exp/division tree.
    "revenue_atkinson" ->
      """WITH cust AS (
        |  SELECT o_custkey, sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1
        |), nn AS (
        |  SELECT n_name, cents,
        |    CAST(round(ln(cents)*1e9, 0) AS BIGINT) AS lterm
        |  FROM cust
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE cents > 0
        |), agg AS (
        |  SELECT n_name, count(*)::BIGINT AS n_customers,
        |    sum(cents)::BIGINT AS sum_cents, sum(lterm)::BIGINT AS sl
        |  FROM nn GROUP BY 1
        |)
        |SELECT n_name, n_customers, round(sum_cents / 100.0, 2) AS total_revenue,
        |  round(1 - exp(sl/1e9/n_customers)
        |    / (CAST(sum_cents AS DOUBLE)/n_customers), 6) AS atkinson
        |FROM agg ORDER BY n_name""".stripMargin,
    // Same ranked-p CTE chain as anomaly_fdr; the step-down compare
    // multiplies (p·(m−i+1) ≤ 0.1) so no division enters the hash.
    "anomaly_holm" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), stats AS (
        |  SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sd
        |  FROM hourly GROUP BY 1
        |), zz AS (
        |  SELECT h.event_type, hour_us, n, round((n - mu) / sd, 6) AS z
        |  FROM hourly h JOIN stats s ON h.event_type = s.event_type
        |  WHERE sd > 0
        |), pz AS (
        |  SELECT *, round(exp(-0.717 * abs(z) - 0.416 * abs(z) * abs(z)), 9) AS p
        |  FROM zz
        |), m AS (SELECT count(*) AS mm FROM pz),
        |ranked AS (
        |  SELECT pz.*, mm,
        |    row_number() OVER (ORDER BY p, event_type, hour_us)::BIGINT AS i
        |  FROM pz CROSS JOIN m
        |), stop AS (
        |  SELECT coalesce(min(CASE WHEN NOT (p * (mm - i + 1) <= 0.1) THEN i END),
        |    max(i) + 1) AS kstop
        |  FROM ranked
        |)
        |SELECT event_type, hour_us, n, z, p, i
        |FROM ranked CROSS JOIN stop WHERE i < kstop ORDER BY i""".stripMargin,
    // Exact-integer smoothed odds inside ln; IV accumulates
    // nano-rounded per-band terms, mirroring the engine.
    "woe_iv" ->
      """WITH ret AS (
        |  SELECT DISTINCT l_orderkey AS o_orderkey, 1::BIGINT AS is_bad
        |  FROM lineitem WHERE l_returnflag = 'R'
        |), o AS (
        |  SELECT least(CAST(round(o_totalprice * 100, 0) AS BIGINT) // 5000000, 9) AS band,
        |    coalesce(is_bad, 0) AS bad
        |  FROM orders LEFT JOIN ret USING (o_orderkey)
        |), byband AS (
        |  SELECT band, count(*)::BIGINT AS n, sum(bad)::BIGINT AS n_bad,
        |    count(*)::BIGINT - sum(bad)::BIGINT AS n_good
        |  FROM o GROUP BY 1
        |), tot AS (
        |  SELECT sum(n_good)::BIGINT AS g, sum(n_bad)::BIGINT AS b FROM byband
        |), rws AS (
        |  SELECT band, n, n_bad, n_good,
        |    ln(CAST(CAST(2*n_good + 1 AS HUGEINT)*b AS DOUBLE)
        |      / CAST(CAST(2*n_bad + 1 AS HUGEINT)*g AS DOUBLE)) AS woe,
        |    CAST(round((CAST(n_good AS DOUBLE)/g - CAST(n_bad AS DOUBLE)/b)
        |      * ln(CAST(CAST(2*n_good + 1 AS HUGEINT)*b AS DOUBLE)
        |        / CAST(CAST(2*n_bad + 1 AS HUGEINT)*g AS DOUBLE))*1e9, 0) AS BIGINT)
        |      AS iv_term_nano
        |  FROM byband CROSS JOIN tot
        |), iv AS (SELECT sum(iv_term_nano)::BIGINT AS iv_nano FROM rws)
        |SELECT band, n, n_bad, n_good, round(woe, 6) AS woe,
        |  round(iv_term_nano/1e9, 6) AS iv_term, round(iv_nano/1e9, 6) AS iv_total
        |FROM rws CROSS JOIN iv ORDER BY band""".stripMargin,
    // Exact integer milli-unit moments (HUGEINT squared sums); the
    // per-group correction terms round to integers before the
    // cross-group sum, mirroring the engine's round-then-sum.
    "events_anova" ->
      """WITH v AS (
        |  SELECT event_type, CAST(round(value * 1000, 0) AS BIGINT) AS v
        |  FROM events
        |), g AS (
        |  SELECT event_type, count(*)::BIGINT AS n_i, sum(v)::BIGINT AS s_i,
        |    sum(CAST(v AS HUGEINT) * v) AS ssq_i
        |  FROM v GROUP BY 1
        |), g2 AS (
        |  SELECT *, CAST(round(CAST(s_i AS DOUBLE)*CAST(s_i AS DOUBLE)/n_i, 0) AS BIGINT) AS gterm
        |  FROM g
        |), a AS (
        |  SELECT count(*)::BIGINT AS k, sum(n_i)::BIGINT AS n, sum(s_i)::BIGINT AS s,
        |    sum(ssq_i) AS ssq, sum(gterm)::BIGINT AS gsum
        |  FROM g2
        |)
        |SELECT k, n,
        |  round((gsum - CAST(round(CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n, 0) AS BIGINT)) / 1e6, 6) AS ss_between,
        |  round((ssq - gsum) / 1e6, 6) AS ss_within,
        |  CASE WHEN k > 1 AND ssq > gsum THEN
        |    round(CAST(gsum - CAST(round(CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n, 0) AS BIGINT) AS DOUBLE) * (n - k)
        |    / (CAST(ssq - gsum AS DOUBLE) * (k - 1)), 6) END AS f_stat
        |FROM a""".stripMargin,
    // Variance numerators are exact HUGEINT; the three cross-group sums
    // ride integer milli-sq / nano / femto units (round-then-sum).
    "events_bartlett" ->
      """WITH v AS (
        |  SELECT event_type, CAST(round(value * 1000, 0) AS BIGINT) AS v
        |  FROM events
        |), g AS (
        |  SELECT event_type, count(*)::BIGINT AS n_i, sum(v)::BIGINT AS s_i,
        |    sum(CAST(v AS HUGEINT) * v) AS ssq_i
        |  FROM v GROUP BY 1
        |), g2 AS (
        |  SELECT *,
        |    CAST(n_i AS HUGEINT)*ssq_i - CAST(s_i AS HUGEINT)*s_i AS num_i,
        |    CAST(CAST(n_i AS HUGEINT)*ssq_i - CAST(s_i AS HUGEINT)*s_i AS DOUBLE)
        |      / CAST(CAST(n_i AS HUGEINT)*(n_i - 1) AS DOUBLE) AS s2_i
        |  FROM g
        |), g3 AS (
        |  SELECT *,
        |    CAST(round(CAST(num_i AS DOUBLE)/n_i, 0) AS BIGINT) AS wterm,
        |    CAST(round((n_i - 1)*ln(s2_i)*1e9, 0) AS BIGINT) AS lterm,
        |    CAST(round(1e15/(n_i - 1), 0) AS BIGINT) AS cterm
        |  FROM g2 WHERE n_i > 1 AND num_i > 0
        |), a AS (
        |  SELECT count(*)::BIGINT AS k, sum(n_i)::BIGINT AS n, sum(wterm)::BIGINT AS sw,
        |    sum(lterm)::BIGINT AS sl, sum(cterm)::BIGINT AS sc
        |  FROM g3
        |), b AS (
        |  SELECT *, (n - k)*ln(CAST(sw AS DOUBLE)/(n - k)) - sl/1e9 AS m_raw,
        |    1 + (sc/1e15 - CAST(1 AS DOUBLE)/(n - k))/(3*(k - 1)) AS c_raw
        |  FROM a
        |)
        |SELECT k, n, round(CAST(sw AS DOUBLE)/(n - k)/1e6, 6) AS pooled_var,
        |  round(m_raw, 6) AS m_stat, round(c_raw, 6) AS c_factor,
        |  round(m_raw/c_raw, 6) AS bartlett
        |FROM b""".stripMargin,
    // All-integer variance numerators (shared N² denominator cancels);
    // one double division inside each readout.
    "annotator_alpha" ->
      """WITH labeled AS (
        |  SELECT
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END::BIGINT AS ra,
        |    CASE WHEN length(text)*2 >= ((length(text) - length(replace(text, ' ', '')) + 1))*11 THEN 1 ELSE 0 END::BIGINT AS rb,
        |    CASE WHEN (length(text) - length(replace(text, ' ', '')) + 1) >= 60 THEN 1 ELSE 0 END::BIGINT AS rc
        |  FROM documents
        |), w AS (
        |  SELECT *, ra + rb + rc AS t FROM labeled
        |), agg AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(ra)::BIGINT AS sa, sum(rb)::BIGINT AS sb, sum(rc)::BIGINT AS sc,
        |    sum(ra*ra)::BIGINT AS qa, sum(rb*rb)::BIGINT AS qb, sum(rc*rc)::BIGINT AS qc,
        |    sum(t)::BIGINT AS st, sum(t*t)::BIGINT AS qt
        |  FROM w
        |), v AS (
        |  SELECT n,
        |    (CAST(n AS HUGEINT)*qa - CAST(sa AS HUGEINT)*sa)
        |      + (CAST(n AS HUGEINT)*qb - CAST(sb AS HUGEINT)*sb)
        |      + (CAST(n AS HUGEINT)*qc - CAST(sc AS HUGEINT)*sc) AS vs,
        |    CAST(n AS HUGEINT)*qt - CAST(st AS HUGEINT)*st AS vt
        |  FROM agg
        |)
        |SELECT n AS n_docs,
        |  round(CAST(vs AS DOUBLE)/CAST(n AS DOUBLE)/n, 6) AS var_items,
        |  round(CAST(vt AS DOUBLE)/CAST(n AS DOUBLE)/n, 6) AS var_total,
        |  CASE WHEN vt <> 0 THEN
        |    round(3*(1 - CAST(vs AS DOUBLE)/CAST(vt AS DOUBLE))/2, 6) END AS alpha
        |FROM v""".stripMargin,
    // Integer autocovariance moments (HUGEINT mirrors DECIMAL(38,0));
    // r and the pico-rounded Q terms repeat the engine's double
    // expression trees verbatim.
    "events_ljungbox" -> {
      val lagCols = (1 to 6).map(k =>
        s"lag(x, $k) OVER w AS x$k").mkString(",\n        |    ")
      val aggCols = (1 to 6).map(k =>
        s"sum(x*x$k)::BIGINT AS c$k, sum(CASE WHEN x$k IS NOT NULL THEN x END)::BIGINT AS a$k, " +
        s"sum(x$k)::BIGINT AS b$k, count(x$k)::BIGINT AS m$k").mkString(",\n        |    ")
      val stacked = (1 to 6).map(k =>
        s"SELECT event_type, n, s, ss, ${k}::BIGINT AS k, c$k AS c, a$k AS a, b$k AS b, m$k AS m FROM agg")
        .mkString("\n        |  UNION ALL ")
      s"""WITH hourly AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), lagged AS (
        |  SELECT event_type, x,
        |    $lagCols
        |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hour_us)
        |), agg AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
        |    sum(x*x)::BIGINT AS ss,
        |    $aggCols
        |  FROM lagged GROUP BY 1
        |), stacked AS (
        |  $stacked
        |), rr AS (
        |  SELECT event_type, k, n, m,
        |    CAST(CAST(n AS HUGEINT)*n*c - CAST(n AS HUGEINT)*s*(a+b)
        |      + CAST(m AS HUGEINT)*s*s AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT)*(CAST(n AS HUGEINT)*ss
        |      - CAST(s AS HUGEINT)*s) AS DOUBLE) AS r
        |  FROM stacked
        |), terms AS (
        |  SELECT *, CAST(round(r*r/m*1e12, 0) AS BIGINT) AS term FROM rr
        |)
        |SELECT event_type, k AS lag, n AS n_hours, round(r, 6) AS r,
        |  round(n*(n+2)*(sum(term) OVER (PARTITION BY event_type ORDER BY k))/1e12, 6)
        |    AS q_stat
        |FROM terms ORDER BY event_type, lag""".stripMargin
    },
    // All-integer agreement tallies; P-bar, P-e, kappa repeat the
    // engine's exact-numerator / exact-denominator double divisions.
    // Same rater tallies; Pa and the symmetric chance term are single
    // chains over exact integers.
    "gwet_ac1" ->
      """WITH labeled AS (
        |  SELECT
        |    (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END
        |     + CASE WHEN length(text)*2 >= ((length(text) - length(replace(text, ' ', '')) + 1))*11 THEN 1 ELSE 0 END
        |     + CASE WHEN (length(text) - length(replace(text, ' ', '')) + 1) >= 60 THEN 1 ELSE 0 END)::BIGINT AS n1
        |  FROM documents
        |), agg AS (
        |  SELECT count(*)::BIGINT AS n, sum(n1)::BIGINT AS t1,
        |    sum(n1*n1 + (3 - n1)*(3 - n1))::BIGINT AS sq
        |  FROM labeled
        |)
        |SELECT n AS n_docs, t1 AS t_pos,
        |  round(CAST(sq - 3*n AS DOUBLE)/CAST(6*n AS DOUBLE), 6) AS p_a,
        |  round(2*(CAST(t1 AS DOUBLE)/(3*n))*(1 - CAST(t1 AS DOUBLE)/(3*n)), 6)
        |    AS p_e_gamma,
        |  round((CAST(sq - 3*n AS DOUBLE)/CAST(6*n AS DOUBLE)
        |      - 2*(CAST(t1 AS DOUBLE)/(3*n))*(1 - CAST(t1 AS DOUBLE)/(3*n)))
        |    /(1 - 2*(CAST(t1 AS DOUBLE)/(3*n))*(1 - CAST(t1 AS DOUBLE)/(3*n))), 6)
        |    AS ac1
        |FROM agg""".stripMargin,
    "fleiss_kappa" ->
      """WITH labeled AS (
        |  SELECT
        |    (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END
        |     + CASE WHEN length(text)*2 >= ((length(text) - length(replace(text, ' ', '')) + 1))*11 THEN 1 ELSE 0 END
        |     + CASE WHEN (length(text) - length(replace(text, ' ', '')) + 1) >= 60 THEN 1 ELSE 0 END)::BIGINT AS n1
        |  FROM documents
        |), agg AS (
        |  SELECT count(*)::BIGINT AS n, sum(n1)::BIGINT AS t1,
        |    sum(3 - n1)::BIGINT AS t0,
        |    sum(n1*n1 + (3 - n1)*(3 - n1))::BIGINT AS sq
        |  FROM labeled
        |)
        |SELECT n AS n_docs, t1 AS t_pos,
        |  round(CAST(sq - 3*n AS DOUBLE) / CAST(6*n AS DOUBLE), 6) AS p_bar,
        |  round(CAST(CAST(t1 AS HUGEINT)*t1 + CAST(t0 AS HUGEINT)*t0 AS DOUBLE)
        |    / CAST(9*CAST(n AS HUGEINT)*n AS DOUBLE), 6) AS p_e,
        |  CASE WHEN 9*CAST(n AS HUGEINT)*n
        |      <> CAST(t1 AS HUGEINT)*t1 + CAST(t0 AS HUGEINT)*t0 THEN
        |    round(CAST(3*CAST(n AS HUGEINT)*(sq - 3*n)
        |      - 2*(CAST(t1 AS HUGEINT)*t1 + CAST(t0 AS HUGEINT)*t0) AS DOUBLE)
        |    / CAST(2*(9*CAST(n AS HUGEINT)*n - CAST(t1 AS HUGEINT)*t1
        |      - CAST(t0 AS HUGEINT)*t0) AS DOUBLE), 6) END AS kappa
        |FROM agg""".stripMargin,
    // Moments are exact HUGEINT sums (mirroring the engine's
    // DECIMAL(38,0)); the Cramer solve repeats the engine's double
    // expression tree term for term so the derived coefficients are
    // bit-identical before round(, 6).
    // Exact HUGEINT moments per arm; the z-sum literal and every scalar
    // expression mirror the engine term for term.
    "ab_power" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000
        |      < 500000 THEN 0 ELSE 1 END AS arm,
        |    count(*)::BIGINT AS n,
        |    sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS sv,
        |    sum(CAST(CAST(round(value * 1000000, 0) AS BIGINT) AS HUGEINT)
        |      * CAST(round(value * 1000000, 0) AS BIGINT)) AS svv
        |  FROM events GROUP BY 1, 2
        |), v AS (
        |  SELECT g.*, CASE WHEN n > 1 THEN (n * svv - sv * sv)::DOUBLE
        |    / (n::DOUBLE * (n - 1)) END AS vr
        |  FROM g
        |), j AS (
        |  SELECT a.event_type, a.n AS n_a, a.sv AS sv_a, a.vr AS vr_a,
        |    b.n AS n_b, b.vr AS vr_b,
        |    sqrt(a.vr / a.n + b.vr / b.n) AS se
        |  FROM v a JOIN v b ON a.event_type = b.event_type
        |  WHERE a.arm = 0 AND b.arm = 1
        |)
        |SELECT event_type, n_a, n_b,
        |  round(sv_a::DOUBLE / n_a / 1000000.0, 6) AS mean_a,
        |  round(2.8015852181129683 * se / 1000000.0, 6) AS mde_abs,
        |  CASE WHEN sv_a <> 0 THEN
        |    round(2.8015852181129683 * se / (sv_a::DOUBLE / n_a), 6) END AS mde_rel
        |FROM j ORDER BY event_type""".stripMargin,
    // Quintiles via ntile over (pre-spend, user); per-stratum contrasts
    // from exact sums; weighted terms rounded to micro-user units
    // before the exact total; empty-arm strata null out and drop.
    "ate_stratified" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 1000000, 0) AS BIGINT) AS v_us
        |  FROM events
        |), b AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS cut_us FROM ev),
        |per AS (
        |  SELECT user_id,
        |    sum(CASE WHEN ts_us < (SELECT cut_us FROM b)
        |      THEN v_us ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN ts_us >= (SELECT cut_us FROM b)
        |      THEN v_us ELSE 0 END)::BIGINT AS y,
        |    CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000
        |      >= 500000 THEN 1 ELSE 0 END AS treated
        |  FROM ev GROUP BY user_id
        |), st AS (
        |  SELECT *, ntile(5) OVER (ORDER BY x, user_id) AS stratum FROM per
        |), g AS (
        |  SELECT stratum,
        |    sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
        |    sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
        |    sum(CASE WHEN treated = 1 THEN y ELSE 0 END)::BIGINT AS syt,
        |    sum(CASE WHEN treated = 0 THEN y ELSE 0 END)::BIGINT AS syc
        |  FROM st GROUP BY 1
        |), tot AS (
        |  SELECT sum(n_t + n_c)::BIGINT AS nn, sum(n_t)::BIGINT AS tnt,
        |    sum(n_c)::BIGINT AS tnc, sum(syt)::BIGINT AS tsyt,
        |    sum(syc)::BIGINT AS tsyc,
        |    sum(CASE WHEN n_t > 0 AND n_c > 0 THEN
        |      CAST(round(((n_t + n_c) * (syt / n_t - syc / n_c)), 0) AS BIGINT)
        |      ELSE 0 END)::BIGINT AS wsum
        |  FROM g
        |)
        |SELECT stratum, n_t, n_c, mean_t, mean_c, diff FROM (
        |  SELECT stratum::VARCHAR AS stratum, n_t, n_c,
        |    CASE WHEN n_t = 0 THEN NULL
        |      ELSE round(syt / n_t / 1000000.0, 6) END AS mean_t,
        |    CASE WHEN n_c = 0 THEN NULL
        |      ELSE round(syc / n_c / 1000000.0, 6) END AS mean_c,
        |    CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
        |      ELSE round((syt / n_t - syc / n_c) / 1000000.0, 6) END AS diff
        |  FROM g
        |  UNION ALL
        |  SELECT 'ALL', tnt, tnc,
        |    round(tsyt / tnt / 1000000.0, 6),
        |    round(tsyc / tnc / 1000000.0, 6),
        |    round(wsum / nn / 1000000.0, 6)
        |  FROM tot
        |) ORDER BY stratum""".stripMargin,
    // Prefix sums over the zero-filled spine; gain rounded to 6 before
    // the (gain DESC, h) argmax — round-then-rank.
    "changepoint_binseg" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events
        |), b AS (SELECT min(h) AS mn, max(h) AS mx FROM ev),
        |sp AS (
        |  SELECT t.event_type, g.h
        |  FROM (SELECT DISTINCT event_type FROM ev) t,
        |    (SELECT unnest(generate_series((SELECT mn FROM b),
        |       (SELECT mx FROM b), 1)) AS h) g
        |), series AS (
        |  SELECT sp.event_type, sp.h, coalesce(c.y, 0)::BIGINT AS y
        |  FROM sp LEFT JOIN (
        |    SELECT event_type, h, count(*)::BIGINT AS y FROM ev GROUP BY 1, 2
        |  ) c USING (event_type, h)
        |), tot AS (
        |  SELECT event_type, sum(y)::BIGINT AS st, count(*)::BIGINT AS nt
        |  FROM series GROUP BY 1
        |), pre AS (
        |  SELECT s.event_type, s.h,
        |    (sum(y) OVER (PARTITION BY s.event_type ORDER BY s.h
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS sl,
        |    (count(*) OVER (PARTITION BY s.event_type ORDER BY s.h
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS nl,
        |    t.st, t.nt
        |  FROM series s JOIN tot t USING (event_type)
        |), g AS (
        |  SELECT *, st - sl AS sr, nt - nl AS nr,
        |    round((sl * sl)::DOUBLE / nl
        |      + ((st - sl) * (st - sl))::DOUBLE / (nt - nl)
        |      - (st * st)::DOUBLE / nt, 6) AS gain
        |  FROM pre WHERE nl < nt
        |)
        |SELECT event_type, h + 1 AS split_hour, nl AS n_left, nr AS n_right,
        |  round(sl / nl, 6) AS mean_left, round(sr / nr, 6) AS mean_right, gain
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain DESC, h) AS rk FROM g)
        |WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // Exact HUGEINT moments mirror the engine's DECIMAL(38,0); theta,
    // rho2, and the adjusted means repeat the engine's scalar
    // expression trees term for term.
    "ab_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 1000000, 0) AS BIGINT) AS v_us
        |  FROM events
        |), b AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS cut_us FROM ev),
        |per AS (
        |  SELECT user_id,
        |    sum(CASE WHEN ts_us < (SELECT cut_us FROM b)
        |      THEN v_us ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN ts_us >= (SELECT cut_us FROM b)
        |      THEN v_us ELSE 0 END)::BIGINT AS y,
        |    CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000
        |      < 500000 THEN 'a' ELSE 'b' END AS arm
        |  FROM ev GROUP BY user_id
        |), pooled AS (
        |  SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM per
        |), ar AS (
        |  SELECT arm, count(*)::BIGINT AS n_users,
        |    sum(x)::BIGINT AS sxa, sum(y)::BIGINT AS sya
        |  FROM per GROUP BY 1
        |), k AS (
        |  SELECT ar.arm, ar.n_users, ar.sxa, ar.sya, pooled.n, pooled.sx,
        |    (n * sxy - sx * sy)::DOUBLE AS covn,
        |    (n * sxx - sx * sx)::DOUBLE AS varxn,
        |    (n * syy - sy * sy)::DOUBLE AS varyn
        |  FROM ar, pooled
        |), t AS (
        |  SELECT k.*,
        |    CASE WHEN varxn = 0.0 THEN 0.0 ELSE covn / varxn END AS theta,
        |    CASE WHEN varxn = 0.0 OR varyn = 0.0 THEN 0.0
        |      ELSE covn * covn / (varxn * varyn) END AS rho2
        |  FROM k
        |)
        |SELECT arm, n_users,
        |  round(sya / n_users / 1000000.0, 6) AS mean_post,
        |  round((sya / n_users - theta * (sxa / n_users - sx::DOUBLE / n))
        |    / 1000000.0, 6) AS mean_post_adj,
        |  round(theta, 6) AS theta, round(rho2, 6) AS rho2
        |FROM t ORDER BY arm""".stripMargin,
    // Zero-filled hourly spine, integer 80% hour cut, exact-integer
    // naive errors and ppm-rounded rational profile errors summed
    // exactly; inner profile join pinned.
    "forecast_baseline" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events
        |), b AS (SELECT min(h) AS mn, max(h) AS mx FROM ev),
        |sp AS (
        |  SELECT t.event_type, g.h,
        |    (SELECT mn FROM b) AS mn,
        |    (SELECT mn FROM b)
        |      + (((SELECT mx FROM b) - (SELECT mn FROM b) + 1) * 8) // 10 AS hcut
        |  FROM (SELECT DISTINCT event_type FROM ev) t,
        |    (SELECT unnest(generate_series((SELECT mn FROM b),
        |       (SELECT mx FROM b), 1)) AS h) g
        |), series AS (
        |  SELECT sp.event_type, sp.h, sp.mn, sp.hcut,
        |    coalesce(c.y, 0)::BIGINT AS y
        |  FROM sp LEFT JOIN (
        |    SELECT event_type, h, count(*)::BIGINT AS y FROM ev GROUP BY 1, 2
        |  ) c USING (event_type, h)
        |), prof AS (
        |  SELECT event_type, h % 24 AS hod, sum(y)::BIGINT AS ps,
        |    count(*)::BIGINT AS pn
        |  FROM series WHERE h < hcut GROUP BY 1, 2
        |), scored AS (
        |  SELECT s.event_type,
        |    abs(s.y - l.y) * 1000000 AS naive_ppm,
        |    CAST(round(abs(s.y * p.pn - p.ps) * 1000000.0 / p.pn, 0) AS BIGINT)
        |      AS prof_ppm
        |  FROM series s
        |  JOIN series l ON l.event_type = s.event_type AND l.h = s.h - 24
        |  JOIN prof p ON p.event_type = s.event_type AND p.hod = s.h % 24
        |  WHERE s.h >= s.hcut AND s.h - 24 >= s.mn
        |)
        |SELECT event_type, count(*)::BIGINT AS n_test,
        |  round(sum(naive_ppm) / count(*) / 1000000.0, 6) AS mae_naive,
        |  round(sum(prof_ppm) / count(*) / 1000000.0, 6) AS mae_profile,
        |  CASE WHEN sum(naive_ppm) = 0 THEN NULL
        |    ELSE round(sum(prof_ppm) / sum(naive_ppm), 6) END AS mase
        |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin,
    // 16-row mask census -> subset sums -> 32 Shapley terms, each
    // rounded to integer nano-units before the exact sum; weights and
    // v(S) guards pinned identically to the engine.
    "shapley_attribution" ->
      """WITH j AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    + 2 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    + 8 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS mask
        |  FROM events GROUP BY user_id
        |), cm AS (
        |  SELECT mask, count(*)::BIGINT AS cnt, sum(conv)::BIGINT AS cv
        |  FROM j GROUP BY 1
        |), ss AS (SELECT unnest(generate_series(0, 15)) AS sset),
        |vt AS (
        |  SELECT sset, CASE WHEN sum(cnt) IS NULL OR sum(cnt) = 0 THEN 0.0
        |    ELSE sum(cv)::DOUBLE / sum(cnt) END AS v
        |  FROM ss LEFT JOIN cm ON (cm.mask & ss.sset) = cm.mask
        |  GROUP BY sset
        |), ch AS (
        |  SELECT * FROM (VALUES ('click', 1), ('error', 2), ('signup', 4),
        |    ('view', 8)) AS t(channel, cbit)
        |), terms AS (
        |  SELECT ch.channel,
        |    CAST(round((CASE (v0.sset & 1) + ((v0.sset // 2) & 1)
        |        + ((v0.sset // 4) & 1) + ((v0.sset // 8) & 1)
        |      WHEN 0 THEN 6.0 WHEN 1 THEN 2.0 WHEN 2 THEN 2.0 ELSE 6.0 END
        |      / 24.0) * (v1.v - v0.v) * 1000000000, 0) AS BIGINT) AS t_nano
        |  FROM ch JOIN vt v0 ON (v0.sset & ch.cbit) = 0
        |  JOIN vt v1 ON v1.sset = (v0.sset | ch.cbit)
        |)
        |SELECT channel, sum(t_nano)::BIGINT AS phi_nano,
        |  round(sum(t_nano) / 1000000000.0, 6) AS phi
        |FROM terms GROUP BY channel ORDER BY channel""".stripMargin,
    // KMV estimate from the exact k-th-smallest 60-bit hash order
    // statistic; audit columns vs the exact distinct count.
    "sketch_bottomk" ->
      """WITH dh AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events
        |), sk AS (
        |  SELECT event_type, count(*)::BIGINT AS n_sk, max(h) AS h_k FROM (
        |    SELECT event_type, h, row_number() OVER (
        |      PARTITION BY event_type ORDER BY h) AS rk
        |    FROM dh) WHERE rk <= 16 GROUP BY 1
        |), ex AS (
        |  SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
        |  FROM events GROUP BY 1
        |)
        |SELECT sk.event_type, 16 AS k, ex.n_exact, sk.h_k,
        |  round(CASE WHEN sk.n_sk < 16 THEN sk.n_sk::DOUBLE
        |    ELSE 15.0 * 1152921504606846976.0 / sk.h_k END, 6) AS est_distinct,
        |  CAST(round(abs((CASE WHEN sk.n_sk < 16 THEN sk.n_sk::DOUBLE
        |    ELSE 15.0 * 1152921504606846976.0 / sk.h_k END) - ex.n_exact)
        |    / ex.n_exact * 10000, 0) AS BIGINT) AS err_bp
        |FROM sk JOIN ex USING (event_type) ORDER BY event_type""".stripMargin,
    "ols_normal" ->
      """WITH b AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y,
        |         CAST(l_quantity AS BIGINT) AS x1,
        |         CAST(round(l_discount * 10000, 0) AS BIGINT) AS x2
        |  FROM lineitem
        |), m AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CAST(x1 AS HUGEINT))::DOUBLE AS s1,
        |    sum(CAST(x2 AS HUGEINT))::DOUBLE AS s2,
        |    sum(CAST(x1 AS HUGEINT) * x1)::DOUBLE AS s11,
        |    sum(CAST(x1 AS HUGEINT) * x2)::DOUBLE AS s12,
        |    sum(CAST(x2 AS HUGEINT) * x2)::DOUBLE AS s22,
        |    sum(CAST(y AS HUGEINT))::DOUBLE AS sy,
        |    sum(CAST(x1 AS HUGEINT) * y)::DOUBLE AS s1y,
        |    sum(CAST(x2 AS HUGEINT) * y)::DOUBLE AS s2y,
        |    sum(CAST(y AS HUGEINT) * y)::DOUBLE AS syy
        |  FROM b
        |), k AS (
        |  SELECT m.*,
        |    s11 * s22 - s12 * s12 AS m00,
        |    s1 * s22 - s12 * s2 AS m01,
        |    s1 * s12 - s11 * s2 AS m02
        |  FROM m
        |), det AS (
        |  SELECT k.*,
        |    n * m00 - s1 * m01 + s2 * m02 AS dd,
        |    sy * m00 - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS d0,
        |    n * (s1y * s22 - s12 * s2y) - sy * m01
        |      + s2 * (s1 * s2y - s1y * s2) AS d1,
        |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |      + sy * m02 AS d2
        |  FROM k
        |), sol AS (
        |  SELECT det.*,
        |    CASE WHEN dd <> 0 THEN d0 / dd END AS b0,
        |    CASE WHEN dd <> 0 THEN d1 / dd END AS b1,
        |    CASE WHEN dd <> 0 THEN d2 / dd END AS b2
        |  FROM det
        |)
        |SELECT n, round(b0, 6) AS b0, round(b1, 6) AS b1,
        |  round(b2, 6) AS b2,
        |  CASE WHEN syy - sy * sy / n <> 0 THEN
        |    round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
        |    / (syy - sy * sy / n), 6) END AS r2
        |FROM sol""".stripMargin,
    "events_hurst" -> {
      def rsCte(m: Int): String =
        s"""rs$m AS (
           |  SELECT event_type, avg(r / sd) AS rs, $m::BIGINT AS m FROM (
           |    SELECT event_type, blk,
           |      max(cumdev) - min(cumdev) AS r, stddev_pop(n) AS sd
           |    FROM (
           |      SELECT *, sum(n - mu) OVER (PARTITION BY event_type, blk
           |        ORDER BY rk ROWS UNBOUNDED PRECEDING) AS cumdev
           |      FROM (
           |        SELECT *, avg(n) OVER (PARTITION BY event_type, blk) AS mu,
           |          count(*) OVER (PARTITION BY event_type, blk) AS nblk
           |        FROM (SELECT event_type, rk, n, rk // $m AS blk FROM ranked) b
           |      ) c WHERE nblk = $m
           |    ) d GROUP BY 1, 2
           |  ) e WHERE sd > 0 GROUP BY event_type
           |)""".stripMargin
      s"""WITH hourly AS (
         |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
         |    count(*) AS n
         |  FROM events GROUP BY 1, 2
         |), ranked AS (
         |  SELECT event_type, n,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hour_idx)::BIGINT
         |      - 1 AS rk
         |  FROM hourly
         |),
         |${Seq(8, 16, 32).map(rsCte).mkString(",\n")},
         |allrs AS (
         |  SELECT * FROM rs8 UNION ALL SELECT * FROM rs16
         |  UNION ALL SELECT * FROM rs32
         |)
         |SELECT event_type, round(regr_slope(ln(rs), ln(m)), 6) AS hurst
         |FROM allrs GROUP BY event_type HAVING count(*) = 3
         |ORDER BY event_type""".stripMargin
    },
    "seasonality_strength" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), keyed AS (
        |  SELECT *, (hour_idx // 24 + 4) % 7 AS dow, hour_idx % 24 AS hod
        |  FROM hourly
        |), cells AS (
        |  SELECT event_type, dow, hod, avg(n) AS cell_mean
        |  FROM keyed GROUP BY 1, 2, 3
        |)
        |SELECT k.event_type, count(*) AS n_hours,
        |  round(var_pop(n), 6) AS var_total,
        |  round(var_pop(n - cell_mean), 6) AS var_resid,
        |  CASE WHEN var_pop(n) > 0 THEN
        |    round(1.0 - var_pop(n - cell_mean) / var_pop(n), 6) END AS seasonal_r2
        |FROM keyed k JOIN cells c
        |  ON c.event_type = k.event_type AND c.dow = k.dow AND c.hod = k.hod
        |GROUP BY k.event_type ORDER BY k.event_type""".stripMargin,
    "postings_compression" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok AS token FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |    FROM documents) x
        |), dft AS (SELECT token, count(*) AS df FROM toks GROUP BY 1),
        |gaps AS (
        |  SELECT token,
        |    coalesce(doc_id - lag(doc_id) OVER (
        |      PARTITION BY token ORDER BY doc_id), doc_id + 1) AS gap
        |  FROM toks
        |), bits AS (
        |  SELECT token, length(bin(gap)) - position('1' IN bin(gap)) + 1 AS bitlen
        |  FROM gaps
        |)
        |SELECT CASE WHEN df <= 10 THEN 'a_df_1_10'
        |            WHEN df <= 100 THEN 'b_df_11_100'
        |            ELSE 'c_df_over_100' END AS df_bucket,
        |  count(*) AS n_postings,
        |  (count(*) * 64)::BIGINT AS raw_bits,
        |  sum(bitlen * 2 - 1)::BIGINT AS gamma_bits,
        |  (greatest(count(*) * 64 - sum(bitlen * 2 - 1), 0) * 10000
        |    // (count(*) * 64))::BIGINT AS savings_bp
        |FROM bits JOIN dft USING (token)
        |GROUP BY 1 ORDER BY df_bucket""".stripMargin,
    "partition_skew" ->
      """WITH parts AS (
        |  SELECT lang, source, count(*) AS n_rows,
        |    sum(strlen(text))::BIGINT AS bytes
        |  FROM documents GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY bytes, lang, source) AS rk
        |  FROM parts
        |), m AS (SELECT count(*) AS np, max(bytes) AS mx FROM ranked),
        |med AS (
        |  SELECT bytes AS median_bytes FROM ranked CROSS JOIN m
        |  WHERE rk = (np + 1) // 2
        |)
        |SELECT lang, source, n_rows, bytes,
        |  (bytes * 10000 // mx)::BIGINT AS share_of_max_bp,
        |  round(mx / median_bytes::DOUBLE, 6) AS max_over_median
        |FROM ranked CROSS JOIN m CROSS JOIN med
        |ORDER BY lang, source""".stripMargin,
    "markov_accuracy" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) <=
        |      (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 FROM events)
        |      THEN 0 ELSE 1 END AS side
        |  FROM events
        |), pairs AS (
        |  SELECT side, event_type,
        |    lag(event_type) OVER w AS prev, lag(side) OVER w AS prev_side
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), kept AS (
        |  SELECT * FROM pairs WHERE prev IS NOT NULL AND prev_side = side
        |), trained AS (
        |  SELECT prev, event_type AS nxt, count(*) AS c
        |  FROM kept WHERE side = 0 GROUP BY 1, 2
        |), model AS (
        |  SELECT prev, nxt AS pred FROM (
        |    SELECT *, row_number() OVER (PARTITION BY prev
        |      ORDER BY c DESC, nxt) AS rk FROM trained) x
        |  WHERE rk = 1
        |), base AS (
        |  SELECT event_type AS base_pred FROM kept WHERE side = 0
        |  GROUP BY 1 ORDER BY count(*) DESC, event_type LIMIT 1
        |), test AS (
        |  SELECT k.event_type, m.pred, b.base_pred
        |  FROM kept k JOIN model m ON m.prev = k.prev CROSS JOIN base b
        |  WHERE k.side = 1
        |)
        |SELECT count(*) AS n_test_pairs,
        |  sum(CASE WHEN event_type = pred THEN 1 ELSE 0 END)::BIGINT AS n_correct,
        |  sum(CASE WHEN event_type = base_pred THEN 1 ELSE 0 END)::BIGINT
        |    AS n_base_correct,
        |  (sum(CASE WHEN event_type = pred THEN 1 ELSE 0 END) * 10000
        |    // count(*))::BIGINT AS acc_bp,
        |  (sum(CASE WHEN event_type = base_pred THEN 1 ELSE 0 END) * 10000
        |    // count(*))::BIGINT AS base_acc_bp
        |FROM test""".stripMargin,
    "events_peaks" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), x AS (
        |  SELECT *,
        |    lag(hour_idx) OVER wl AS ph, lag(n) OVER wl AS pn,
        |    lead(hour_idx) OVER wl AS nh, lead(n) OVER wl AS nn,
        |    (sum(n) OVER w7)::BIGINT AS sum7,
        |    (count(*) OVER w7)::BIGINT AS cnt7
        |  FROM hourly
        |  WINDOW wl AS (PARTITION BY event_type ORDER BY hour_idx),
        |    w7 AS (PARTITION BY event_type ORDER BY hour_idx
        |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |)
        |SELECT event_type, hour_idx, n, pn, nn,
        |  round(sum7 / cnt7::DOUBLE, 6) AS mean_7h
        |FROM x
        |WHERE ph = hour_idx - 1 AND nh = hour_idx + 1
        |  AND n > pn AND n > nn AND n * 2 * cnt7 > sum7 * 3
        |ORDER BY event_type, hour_idx""".stripMargin,
    // The oracle states the skyline DECLARATIVELY (NOT EXISTS strict
    // dominance) — a different algorithm than the engine's prefix-min
    // sweep must land on the same front.
    "skyline_parts" ->
      """WITH pts AS (
        |  SELECT p_partkey, p_size,
        |    round(p_retailprice * 100, 0)::BIGINT AS price_cents
        |  FROM part
        |), grouped AS (
        |  SELECT price_cents, p_size, min(p_partkey) AS p_partkey,
        |    count(*) AS n_dup
        |  FROM pts GROUP BY 1, 2
        |)
        |SELECT round(g.price_cents / 100.0, 2) AS price, g.p_size,
        |  g.p_partkey, g.n_dup
        |FROM grouped g
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM grouped o
        |  WHERE o.price_cents <= g.price_cents AND o.p_size <= g.p_size
        |    AND (o.price_cents < g.price_cents OR o.p_size < g.p_size))
        |ORDER BY price""".stripMargin,
    "backlog_aging" ->
      """WITH li AS (
        |  SELECT epoch_us(o_orderdate) AS od_us, epoch_us(l_shipdate) AS sd_us,
        |    l_extendedprice
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), bounds AS (
        |  SELECT min(od_us) AS g_mn, max(sd_us) AS g_mx FROM li
        |), snaps AS (SELECT unnest([1, 2, 3])::BIGINT AS snap),
        |fanned AS (
        |  SELECT snap, g_mn + (g_mx - g_mn) * snap // 4 AS t_us,
        |    (g_mn + (g_mx - g_mn) * snap // 4 - od_us) // 86400000000 AS age_days,
        |    l_extendedprice
        |  FROM li CROSS JOIN bounds CROSS JOIN snaps
        |  WHERE od_us <= g_mn + (g_mx - g_mn) * snap // 4
        |    AND g_mn + (g_mx - g_mn) * snap // 4 < sd_us
        |)
        |SELECT snap, t_us,
        |  CASE WHEN age_days < 30 THEN '0_under_30d'
        |       WHEN age_days < 90 THEN '1_30_to_90d'
        |       ELSE '2_over_90d' END AS bucket,
        |  count(*) AS n_open_lines,
        |  round(sum(round(l_extendedprice * 100, 0)::BIGINT) / 100.0, 2)
        |    AS open_value
        |FROM fanned GROUP BY 1, 2, 3 ORDER BY snap, bucket""".stripMargin,
    "sketch_f2" ->
      """WITH exact AS (
        |  SELECT sum(f * f)::BIGINT AS exact_f2 FROM (
        |    SELECT user_id, count(*)::BIGINT AS f FROM events GROUP BY 1) x
        |), est AS (SELECT unnest(generate_series(0, 31))::BIGINT AS i),
        |signs AS (
        |  SELECT i,
        |    1 - 2 * (('0x' || substr(md5(user_id::VARCHAR || '#' || i::VARCHAR),
        |      1, 15))::BIGINT % 2) AS sign
        |  FROM events CROSS JOIN est
        |), sums AS (
        |  SELECT i, sum(sign)::BIGINT AS s FROM signs GROUP BY i
        |), grps AS (
        |  SELECT i // 8 AS grp, sum(s * s)::BIGINT AS gsum
        |  FROM sums GROUP BY 1
        |), ranked AS (
        |  SELECT gsum, row_number() OVER (ORDER BY gsum, grp) AS rk FROM grps
        |), mid AS (
        |  SELECT sum(gsum)::BIGINT AS m23 FROM ranked WHERE rk IN (2, 3)
        |)
        |SELECT exact_f2, round(m23 / 16.0, 2) AS estimate,
        |  round(m23 / 16.0 / exact_f2, 6) AS ratio
        |FROM mid CROSS JOIN exact""".stripMargin,
    // Exact-integer moments (n, Σgap, Σgap²) on both sides; Σgap²
    // crosses HUGEINT→DOUBLE via the same 2^62/2^31 integer split the
    // engine uses, so the derived μ/σ/B doubles are bit-identical.
    "events_burstiness" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events
        |), a AS (
        |  SELECT event_type, count(*)::BIGINT AS n_gaps, sum(gap)::BIGINT AS s,
        |    sum(gap::HUGEINT * gap) AS q
        |  FROM g WHERE gap IS NOT NULL GROUP BY event_type
        |), b AS (
        |  SELECT event_type, n_gaps, s,
        |    (q // 4611686018427387904)::BIGINT AS qh,
        |    ((q % 4611686018427387904) // 2147483648)::BIGINT AS qm,
        |    (q % 2147483648)::BIGINT AS ql
        |  FROM a
        |), c AS (
        |  SELECT event_type, n_gaps,
        |    s::DOUBLE / n_gaps AS mean,
        |    sqrt((qh::DOUBLE * 4611686018427387904.0
        |          + qm::DOUBLE * 2147483648.0 + ql::DOUBLE) / n_gaps
        |         - (s::DOUBLE / n_gaps) * (s::DOUBLE / n_gaps)) AS sd
        |  FROM b
        |)
        |SELECT event_type, n_gaps,
        |  round(mean, 6) AS mean_gap_us,
        |  round(sd, 6) AS sd_gap_us,
        |  round((sd - mean) / (sd + mean), 6) AS burstiness
        |FROM c ORDER BY event_type""".stripMargin,
    "events_did" ->
      """WITH mid AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events
        |), cells AS (
        |  SELECT
        |    ((user_id % 1000000) * 2654435761 + 13) % 1000000 >= 500000 AS treated,
        |    epoch_us(ts) > mid AS post,
        |    count(*) AS n, avg(value) AS mean_v
        |  FROM events CROSS JOIN mid GROUP BY 1, 2
        |), wide AS (
        |  SELECT
        |    sum(CASE WHEN treated AND post THEN mean_v END) AS tp,
        |    sum(CASE WHEN treated AND NOT post THEN mean_v END) AS tq,
        |    sum(CASE WHEN NOT treated AND post THEN mean_v END) AS cp,
        |    sum(CASE WHEN NOT treated AND NOT post THEN mean_v END) AS cq,
        |    sum(CASE WHEN treated AND post THEN n END)::BIGINT AS n_tp,
        |    sum(CASE WHEN treated AND NOT post THEN n END)::BIGINT AS n_tq,
        |    sum(CASE WHEN NOT treated AND post THEN n END)::BIGINT AS n_cp,
        |    sum(CASE WHEN NOT treated AND NOT post THEN n END)::BIGINT AS n_cq
        |  FROM cells
        |)
        |SELECT n_tp, n_tq, n_cp, n_cq,
        |  round(tp, 6) AS mean_treated_post, round(tq, 6) AS mean_treated_pre,
        |  round(cp, 6) AS mean_control_post, round(cq, 6) AS mean_control_pre,
        |  round((tp - tq) - (cp - cq), 6) AS did
        |FROM wide""".stripMargin,
    "graph_richclub" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), p AS (
        |  SELECT x.item AS a, y.item AS b
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
        |deg AS (SELECT a, count(*) AS deg FROM sym GROUP BY 1),
        |joined AS (
        |  SELECT p.a, p.b, da.deg AS deg, db.deg AS deg_b
        |  FROM p JOIN deg da ON da.a = p.a JOIN deg db ON db.a = p.b
        |), wide AS (
        |  SELECT
        |    sum(CASE WHEN deg >= 2 AND deg_b >= 2 THEN 1 ELSE 0 END)::BIGINT AS e2,
        |    sum(CASE WHEN deg >= 4 AND deg_b >= 4 THEN 1 ELSE 0 END)::BIGINT AS e4,
        |    sum(CASE WHEN deg >= 8 AND deg_b >= 8 THEN 1 ELSE 0 END)::BIGINT AS e8
        |  FROM joined
        |), nodes AS (
        |  SELECT count(*) AS n_all,
        |    sum(CASE WHEN deg >= 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
        |    sum(CASE WHEN deg >= 4 THEN 1 ELSE 0 END)::BIGINT AS n4,
        |    sum(CASE WHEN deg >= 8 THEN 1 ELSE 0 END)::BIGINT AS n8
        |  FROM deg
        |), tot AS (SELECT count(*) AS e_all FROM p),
        |longf AS (
        |  SELECT 2::BIGINT AS k, n2 AS n_rich, e2 AS e_rich, n_all, e_all
        |  FROM wide CROSS JOIN nodes CROSS JOIN tot
        |  UNION ALL
        |  SELECT 4, n4, e4, n_all, e_all FROM wide CROSS JOIN nodes CROSS JOIN tot
        |  UNION ALL
        |  SELECT 8, n8, e8, n_all, e_all FROM wide CROSS JOIN nodes CROSS JOIN tot
        |)
        |SELECT k, n_rich, e_rich,
        |  CASE WHEN n_rich >= 2
        |    THEN (e_rich * 2 * 10000 // (n_rich * (n_rich - 1)))::BIGINT END AS phi_bp,
        |  CASE WHEN n_all >= 2 THEN
        |    (e_all * 2 * 10000 // (n_all * (n_all - 1)))::BIGINT END AS density_all_bp
        |FROM longf ORDER BY k""".stripMargin,
    "ab_sprt" ->
      """WITH arm AS (
        |  SELECT epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS x
        |  FROM events
        |  WHERE ((user_id % 1000000) * 2654435761 + 13) % 1000000 >= 500000
        |), walked AS (
        |  SELECT ts_us,
        |    row_number() OVER (ORDER BY ts_us, event_id) AS t,
        |    (sum(x) OVER (ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS n1
        |  FROM arm
        |), llrs AS (
        |  SELECT ts_us, t::BIGINT AS t,
        |    round(n1 * ln(1.1) + (t - n1) * ln(0.9), 9) AS llr,
        |    round(ln((1.0 - 0.05) / 0.05), 9) AS hi,
        |    round(ln(0.05 / (1.0 - 0.05)), 9) AS lo
        |  FROM walked
        |), crossed AS (
        |  SELECT *, CASE WHEN llr >= hi THEN 'accept_h1'
        |    WHEN llr <= lo THEN 'accept_h0' END AS crossed
        |  FROM llrs
        |), first AS (
        |  SELECT t AS decision_n, ts_us AS decision_ts_us,
        |    crossed AS decision, llr AS llr_at_decision
        |  FROM crossed WHERE crossed IS NOT NULL
        |  ORDER BY t LIMIT 1
        |), last AS (
        |  SELECT max(t) AS n_total,
        |    (SELECT llr FROM llrs ORDER BY t DESC LIMIT 1) AS final_llr
        |  FROM llrs
        |)
        |-- LEFT JOIN from last: one null-decision row when the LLR never
        |-- crosses a Wald boundary, matching the engine's global agg over
        |-- the empty filtered set (a CROSS JOIN would yield zero rows).
        |SELECT decision_n, decision_ts_us, decision, llr_at_decision,
        |  n_total, final_llr
        |FROM last LEFT JOIN first ON true""".stripMargin,
    "events_dispersion" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, count(*) AS n_hours,
        |  round(avg(n), 6) AS mean_rate,
        |  round(var_pop(n), 6) AS var_rate,
        |  round(var_pop(n) / avg(n), 6) AS dispersion,
        |  round((count(*) - 1) * var_pop(n) / avg(n), 6) AS chi2
        |FROM hourly GROUP BY event_type ORDER BY event_type""".stripMargin,
    "simpson_check" ->
      """WITH j AS (
        |  SELECT p_brand, l_quantity, l_discount
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |), o AS (
        |  SELECT round(regr_slope(l_quantity, l_discount), 6) AS slope_all FROM j
        |)
        |SELECT p_brand, count(*) AS n,
        |  round(regr_slope(l_quantity, l_discount), 6) AS slope,
        |  (SELECT slope_all FROM o) AS slope_all,
        |  round(regr_slope(l_quantity, l_discount), 6)
        |    * (SELECT slope_all FROM o) < 0 AS sign_flip
        |FROM j GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // Two unrolled 4-hop BFS sweeps as pure join chains; all-integer.
    // Each level dedups to min(dist) per vertex so the walk space stays
    // |V|-bounded, and every CTE is MATERIALIZED: the sweep levels
    // reference each other twice apiece, so DuckDB's default CTE
    // inlining would otherwise re-expand the pair-generation tree
    // exponentially (~500 copies; observed >100 s vs 0.1 s).
    "graph_diameter" -> {
      def sweep(p: String): String = (1 to 4).map { k =>
        s"""$p$k AS MATERIALIZED (
           |  SELECT v, min(dist) AS dist FROM (
           |    SELECT v, dist FROM $p${k - 1}
           |    UNION ALL
           |    SELECT e.t AS v, $k AS dist FROM e JOIN $p${k - 1} ON e.s = $p${k - 1}.v
           |  ) GROUP BY v)""".stripMargin
      }.mkString(",\n")
      s"""WITH bk AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
         |), pr AS MATERIALIZED (
         |  SELECT x.item AS a, y.item AS bb FROM bk x JOIN bk y
         |    ON x.basket = y.basket AND x.item < y.item
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |), e AS MATERIALIZED (SELECT a AS s, bb AS t FROM pr UNION ALL SELECT bb, a FROM pr),
         |r0 AS MATERIALIZED (SELECT min(s) AS v, 0 AS dist FROM e),
         |${sweep("r")},
         |d1 AS MATERIALIZED (SELECT v, min(dist) AS dist FROM r4 GROUP BY v),
         |u AS MATERIALIZED (SELECT v FROM d1 ORDER BY dist DESC, v LIMIT 1),
         |q0 AS MATERIALIZED (SELECT v, 0 AS dist FROM u),
         |${sweep("q")},
         |d2 AS MATERIALIZED (SELECT v, min(dist) AS dist FROM q4 GROUP BY v)
         |SELECT (SELECT v FROM r0)::BIGINT AS start_v,
         |  (SELECT v FROM u)::BIGINT AS peripheral_v,
         |  (SELECT max(dist) FROM d2)::BIGINT AS ecc_lower,
         |  (SELECT count(*) FROM d1)::BIGINT AS n_reach_1,
         |  (SELECT count(*) FROM d2)::BIGINT AS n_reach_2""".stripMargin
    },
    // Exact integer rank sums (2·avgrank per run is 2·lt + t + 1);
    // squared-deviation terms rounded to micro units before the k-sum.
    "kruskal_wallis" ->
      """WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |tv AS (SELECT value, count(*)::BIGINT AS t FROM ev GROUP BY value),
        |rk AS (SELECT value, t,
        |  (sum(t) OVER (ORDER BY value))::BIGINT - t AS lt FROM tv),
        |cells AS (SELECT event_type, value, count(*)::BIGINT AS ng
        |  FROM ev GROUP BY 1, 2),
        |g AS (SELECT event_type, sum(ng)::BIGINT AS n_g,
        |    sum(ng * (2 * lt + t + 1))::BIGINT AS s2
        |  FROM cells JOIN rk USING (value) GROUP BY 1),
        |tot AS (SELECT sum(t)::BIGINT AS nn, sum(t*t*t - t)::BIGINT AS tie3 FROM tv),
        |terms AS (SELECT nn, tie3,
        |    round((s2 - n_g*(nn+1))::DOUBLE * (s2 - n_g*(nn+1))::DOUBLE
        |      / (4.0::DOUBLE * n_g) * 1e6)::HUGEINT AS dterm
        |  FROM g CROSS JOIN tot),
        |agg AS (SELECT nn, tie3, count(*)::BIGINT AS k, sum(dterm)::HUGEINT AS ssum
        |  FROM terms GROUP BY nn, tie3),
        |hh AS (SELECT nn, tie3, k,
        |    12.0::DOUBLE * ssum::DOUBLE / 1e6 / (nn::DOUBLE * (nn+1)) AS h
        |  FROM agg)
        |SELECT nn AS n, k, round(h, 6) AS h,
        |  round(h / (1.0::DOUBLE - tie3::DOUBLE
        |    / (nn::DOUBLE * nn * nn - nn)), 6) AS h_adj
        |FROM hh""".stripMargin,
    // Shares the Kruskal-Wallis rank bookkeeping; Dunn z per pair with
    // the tie-corrected variance, Lin p on the 6dp z, Bonferroni gate
    // on the 9dp p times the integer pair count.
    "kw_dunn" ->
      """WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |tv AS (SELECT value, count(*)::BIGINT AS t FROM ev GROUP BY value),
        |rk AS (SELECT value, t,
        |  (sum(t) OVER (ORDER BY value))::BIGINT - t AS lt FROM tv),
        |cells AS (SELECT event_type, value, count(*)::BIGINT AS ng
        |  FROM ev GROUP BY 1, 2),
        |g AS (SELECT event_type, sum(ng)::BIGINT AS n_g,
        |    sum(ng * (2 * lt + t + 1))::BIGINT AS s2
        |  FROM cells JOIN rk USING (value) GROUP BY 1),
        |tot AS (SELECT sum(t)::BIGINT AS nn, sum(t*t*t - t)::BIGINT AS tie3 FROM tv),
        |km AS (SELECT count(*)::BIGINT AS k,
        |  (count(*) * (count(*) - 1) // 2)::BIGINT AS m FROM g),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n_g AS n_a, b.n_g AS n_b, a.s2 AS s2a, b.s2 AS s2b
        |  FROM g a JOIN g b ON a.event_type < b.event_type),
        |zz AS (SELECT type_a, type_b, n_a, n_b,
        |    round(CASE WHEN nn::DOUBLE*(nn + 1)/12 - tie3/(12.0::DOUBLE*(nn - 1)) > 0
        |      THEN (s2a/(2.0::DOUBLE*n_a) - s2b/(2.0::DOUBLE*n_b))
        |      / sqrt((nn::DOUBLE*(nn + 1)/12 - tie3/(12.0::DOUBLE*(nn - 1)))
        |        * (1.0::DOUBLE/n_a + 1.0::DOUBLE/n_b)) END, 6) AS z, m
        |  FROM pairs CROSS JOIN tot CROSS JOIN km),
        |pp AS (SELECT type_a, type_b, n_a, n_b, z,
        |    round(exp(-0.717*abs(z) - 0.416*z*z), 9) AS p, m FROM zz)
        |SELECT type_a, type_b, n_a, n_b, z, p, p * m <= 0.05 AS significant
        |FROM pp ORDER BY type_a, type_b""".stripMargin,
    // Exact integer difference and moment sums; one rational division.
    "events_durbin_watson" ->
      """WITH hourly AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    count(*)::BIGINT AS x FROM events GROUP BY 1, 2),
        |diffed AS (SELECT event_type, x,
        |    lag(x) OVER (PARTITION BY event_type ORDER BY h) AS px
        |  FROM hourly),
        |agg AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS sx, sum(x::HUGEINT * x)::HUGEINT AS sxx,
        |    sum(CASE WHEN px IS NOT NULL THEN (x - px)*(x - px)
        |      ELSE 0 END)::BIGINT AS num
        |  FROM diffed GROUP BY 1)
        |SELECT event_type, n AS n_hours,
        |  CASE WHEN n::HUGEINT*sxx - sx::HUGEINT*sx <> 0
        |    THEN round(num::DOUBLE*n
        |      / (n::HUGEINT*sxx - sx::HUGEINT*sx)::DOUBLE, 6)
        |    END AS dw
        |FROM agg ORDER BY event_type""".stripMargin,
    // Shares the ANOVA moment discipline (milli-unit integers, rounded
    // per-group correction terms); Tukey-Kramer q per pair, one chain.
    "anova_tukey" ->
      """WITH v AS (SELECT event_type, round(value*1000)::BIGINT AS v FROM events),
        |g AS (SELECT event_type, count(*)::BIGINT AS n_i, sum(v)::BIGINT AS s_i,
        |    sum(v::HUGEINT * v)::HUGEINT AS ssq_i,
        |    round(sum(v)::DOUBLE * sum(v)::DOUBLE / count(*))::BIGINT AS gterm
        |  FROM v GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS k, sum(n_i)::BIGINT AS n,
        |    sum(ssq_i)::HUGEINT AS ssq, sum(gterm)::HUGEINT AS gsum FROM g)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  a.n_i AS n_a, b.n_i AS n_b,
        |  round((a.s_i::DOUBLE/a.n_i - b.s_i::DOUBLE/b.n_i)/1e3, 6) AS mean_diff,
        |  CASE WHEN n > k AND ssq > gsum THEN
        |    round((a.s_i::DOUBLE/a.n_i - b.s_i::DOUBLE/b.n_i)
        |    / sqrt((ssq - gsum)::DOUBLE/(n - k)/2
        |      *(1.0::DOUBLE/a.n_i + 1.0::DOUBLE/b.n_i)), 6) END AS q,
        |  abs(CASE WHEN n > k AND ssq > gsum THEN
        |    round((a.s_i::DOUBLE/a.n_i - b.s_i::DOUBLE/b.n_i)
        |    / sqrt((ssq - gsum)::DOUBLE/(n - k)/2
        |      *(1.0::DOUBLE/a.n_i + 1.0::DOUBLE/b.n_i)), 6) END) > 3.858
        |    AS significant
        |FROM g a JOIN g b ON a.event_type < b.event_type CROSS JOIN tot
        |ORDER BY type_a, type_b""".stripMargin,
    // Same doubled-midrank bookkeeping as events_mannwhitney;
    // delta = (2*U_b - n_a*n_b)/(n_a*n_b), one division at display.
    "ab_cliffs_delta" ->
      """WITH ev AS (SELECT event_type, value,
        |  CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000 < 500000
        |    THEN 0 ELSE 1 END AS variant
        |  FROM events WHERE value IS NOT NULL),
        |ranked AS (SELECT event_type, variant,
        |    2*rank() OVER (PARTITION BY event_type ORDER BY value)
        |      + count(*) OVER (PARTITION BY event_type, value) - 1 AS r2
        |  FROM ev),
        |g AS (SELECT event_type, variant, count(*)::BIGINT AS n,
        |    sum(r2)::BIGINT AS r2sum FROM ranked GROUP BY 1, 2),
        |j AS (SELECT a.event_type, a.n AS n_a, b.n AS n_b,
        |    b.r2sum - b.n*(b.n + 1) AS u2b
        |  FROM g a JOIN g b ON a.event_type = b.event_type
        |  WHERE a.variant = 0 AND b.variant = 1),
        |d AS (SELECT event_type, n_a, n_b,
        |    round((u2b - n_a*n_b)::DOUBLE/(n_a::DOUBLE*n_b), 6) AS delta,
        |    round(((u2b - n_a*n_b)::DOUBLE/(n_a::DOUBLE*n_b) + 1)/2, 6) AS cles
        |  FROM j)
        |SELECT event_type, n_a, n_b, delta, cles,
        |  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
        |    WHEN abs(delta) < 0.33 THEN 'small'
        |    WHEN abs(delta) < 0.474 THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM d ORDER BY event_type""".stripMargin,
    // Running-mean deviations round to nano units BEFORE the cumulative
    // walk; PH is exact integer nano state; argmax = (PH desc, h asc).
    "events_page_hinkley" ->
      """WITH hourly AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    count(*)::BIGINT AS x FROM events GROUP BY 1, 2),
        |walk AS (SELECT event_type, h, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS t,
        |    (sum(x) OVER (PARTITION BY event_type ORDER BY h))::BIGINT AS sx
        |  FROM hourly),
        |terms AS (SELECT event_type, h, t,
        |    round((t*x - sx)::DOUBLE / t * 1e9)::BIGINT AS term_n FROM walk),
        |mm AS (SELECT event_type, h, t,
        |    (sum(term_n) OVER (PARTITION BY event_type ORDER BY t))::BIGINT AS m
        |  FROM terms),
        |ph AS (SELECT event_type, h,
        |    m - (min(m) OVER (PARTITION BY event_type ORDER BY t))::BIGINT AS ph
        |  FROM mm),
        |agg AS (SELECT event_type, count(*)::BIGINT AS n_hours,
        |    max(ph)::BIGINT AS ph_n FROM ph GROUP BY 1),
        |pick AS (SELECT p.event_type, min(p.h)::BIGINT AS ph_argmax_h
        |  FROM ph p JOIN agg a ON a.event_type = p.event_type AND p.ph = a.ph_n
        |  GROUP BY 1)
        |SELECT a.event_type, n_hours, round(ph_n / 1e9, 6) AS ph_max,
        |  ph_argmax_h, ph_n > 5000000000 AS alarm
        |FROM agg a JOIN pick USING (event_type) ORDER BY event_type""".stripMargin,
    // Paired signed-rank over hour-of-day cells, first vs last corpus
    // day; discard-zeros, doubled midranks, tie-corrected variance.
    "events_wilcoxon" ->
      """WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    (epoch_us(ts) // 3600000000) % 24 AS hod FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |cells AS (SELECT hod,
        |    sum(CASE WHEN day = d0 THEN 1 ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN day = d1 THEN 1 ELSE 0 END)::BIGINT AS y
        |  FROM ev CROSS JOIN b WHERE day = d0 OR day = d1 GROUP BY 1),
        |dz AS (SELECT hod, y - x AS d, abs(y - x) AS ad FROM cells WHERE y <> x),
        |ranked AS (SELECT d,
        |    2*rank() OVER (ORDER BY ad) + count(*) OVER (PARTITION BY ad) - 1 AS r2
        |  FROM dz),
        |ties AS (SELECT coalesce(sum(t*t*t - t), 0)::BIGINT AS tie3
        |  FROM (SELECT count(*)::BIGINT AS t FROM dz GROUP BY ad)),
        |agg AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN d > 0 THEN r2 ELSE 0 END)::BIGINT AS w2p FROM ranked)
        |SELECT n AS n_pairs, round(w2p / 2.0::DOUBLE, 1) AS w_plus,
        |  CASE WHEN n >= 2
        |      AND (n::DOUBLE*(n+1)*(2*n+1)/24 - tie3/48.0::DOUBLE) > 0
        |    THEN round((w2p - n::DOUBLE*(n+1)/2)
        |      / (2*sqrt(n::DOUBLE*(n+1)*(2*n+1)/24 - tie3/48.0::DOUBLE)), 6)
        |    END AS z
        |FROM agg CROSS JOIN ties""".stripMargin,
    // Full r×c grid from the margins (absent cells at O=0); each χ²
    // term rounds to integer micro-units before the sum.
    "cramers_v" ->
      """WITH ev AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow FROM events),
        |obs AS (SELECT event_type, dow, count(*)::BIGINT AS o FROM ev GROUP BY 1, 2),
        |rm AS (SELECT event_type, count(*)::BIGINT AS r FROM ev GROUP BY 1),
        |cm AS (SELECT dow, count(*)::BIGINT AS c FROM ev GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS nn,
        |    count(DISTINCT event_type)::BIGINT AS nr,
        |    count(DISTINCT dow)::BIGINT AS nc FROM ev),
        |grid AS (SELECT rm.event_type, cm.dow, rm.r, cm.c,
        |    coalesce(obs.o, 0)::BIGINT AS o
        |  FROM rm CROSS JOIN cm
        |  LEFT JOIN obs ON obs.event_type = rm.event_type AND obs.dow = cm.dow),
        |terms AS (SELECT nn, nr, nc,
        |    round((nn*o - r*c)::DOUBLE * (nn*o - r*c)::DOUBLE * 1000000.0::DOUBLE
        |      / (nn::DOUBLE * r * c))::BIGINT AS term
        |  FROM grid CROSS JOIN tot),
        |agg AS (SELECT nn, nr, nc, count(*)::BIGINT AS n_cells,
        |    sum(term)::BIGINT AS chi2u FROM terms GROUP BY nn, nr, nc)
        |SELECT nn AS n, n_cells, round(chi2u / 1000000.0::DOUBLE, 6) AS chi2,
        |  round(sqrt(chi2u / 1000000.0::DOUBLE
        |    / (nn::DOUBLE * (least(nr, nc) - 1))), 6) AS v
        |FROM agg""".stripMargin,
    // Exact integer concordance cells; Edwards-corrected statistic with
    // one division at the end, null when the gates never disagree.
    "mcnemar_gates" ->
      """WITH d AS (SELECT
        |  CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END::BIGINT AS ga,
        |  CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) >= 40
        |    THEN 1 ELSE 0 END::BIGINT AS gb
        |  FROM documents),
        |cells AS (SELECT
        |  sum(ga * gb)::BIGINT AS both_pass,
        |  sum(ga * (1 - gb))::BIGINT AS only_len,
        |  sum((1 - ga) * gb)::BIGINT AS only_tok,
        |  sum((1 - ga) * (1 - gb))::BIGINT AS neither
        |  FROM d)
        |SELECT both_pass, only_len, only_tok, neither,
        |  CASE WHEN only_len + only_tok = 0 THEN NULL
        |    ELSE round(greatest(abs(only_len - only_tok) - 1, 0)::DOUBLE
        |      * greatest(abs(only_len - only_tok) - 1, 0)
        |      / (only_len + only_tok), 6) END AS chi2
        |FROM cells""".stripMargin,
    // Five exact integer aggregates in one scan; one pinned float
    // expression for z (triple product in doubles on both engines).
    "cochran_armitage" ->
      """WITH ev AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS sc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END::BIGINT AS y
        |  FROM events),
        |a AS (SELECT count(*)::BIGINT AS nn, sum(y)::BIGINT AS rr,
        |    sum(sc)::BIGINT AS sn, sum(sc * y)::BIGINT AS sr,
        |    sum(sc * sc)::BIGINT AS s2n FROM ev)
        |SELECT nn AS n, rr AS n_success,
        |  CASE WHEN rr = 0 OR rr = nn THEN NULL
        |    ELSE round((nn*sr - rr*sn)::DOUBLE * sqrt(nn::DOUBLE)
        |      / sqrt(rr::DOUBLE * (nn - rr)::DOUBLE
        |        * (nn*s2n - sn*sn)::DOUBLE), 6) END AS z
        |FROM a""".stripMargin,
    // Exact middle of the sorted 7-point window; half-integers are
    // exact in binary, so no float path exists.
    "events_moving_median" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2
        |), wd AS (
        |  SELECT event_type, h, c,
        |    list_sort(list(c) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
        |  FROM hourly
        |)
        |SELECT event_type, h, c,
        |  CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr) + 1) // 2]::DOUBLE
        |    ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / 2.0 END AS med7
        |FROM wd ORDER BY event_type, h""".stripMargin,
    // Exact transition counts; each nij*ln(pij) term rounds to integer
    // units before the sum.
    "events_entropy_rate" ->
      """WITH e AS (
        |  SELECT user_id, event_type, lead(event_type) OVER w AS to_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |), t AS (
        |  SELECT event_type AS from_type, to_type, count(*)::BIGINT AS nij
        |  FROM e WHERE to_type IS NOT NULL GROUP BY 1, 2
        |), ft AS (SELECT from_type, sum(nij)::BIGINT AS ni FROM t GROUP BY 1),
        |k AS (SELECT count(DISTINCT from_type)::BIGINT AS n_states FROM t),
        |ag AS (
        |  SELECT sum(nij)::BIGINT AS n_transitions,
        |    sum(CAST(round(nij * ln(nij / ni::DOUBLE) * 1000000000.0, 0)
        |      AS BIGINT))::BIGINT AS st
        |  FROM t JOIN ft USING (from_type)
        |)
        |SELECT n_transitions, n_states,
        |  round(-st / 1000000000.0 / n_transitions, 6) AS entropy_rate,
        |  round(ln(n_states::DOUBLE), 6) AS max_entropy,
        |  CASE WHEN n_states > 1 THEN
        |    round((-st / 1000000000.0 / n_transitions) / ln(n_states::DOUBLE), 6)
        |    END AS efficiency
        |FROM ag CROSS JOIN k""".stripMargin,
    // Exact 2x2 integer cells per day; each MH term rounds to ppb
    // before its sum; crude OR rides along for the confounding gap.
    "events_cmh" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    sum(CASE WHEN (user_id % 1000000 * 2654435761 + 13) % 1000000 < 500000
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN (user_id % 1000000 * 2654435761 + 13) % 1000000 < 500000
        |      AND event_type <> 'purchase' THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN (user_id % 1000000 * 2654435761 + 13) % 1000000 >= 500000
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN (user_id % 1000000 * 2654435761 + 13) % 1000000 >= 500000
        |      AND event_type <> 'purchase' THEN 1 ELSE 0 END)::BIGINT AS d
        |  FROM events GROUP BY 1
        |), w AS (SELECT *, a + b + c + d AS n FROM cells)
        |SELECT count(*)::BIGINT AS n_strata,
        |  CASE WHEN sum(CAST(round(b * c / n * 1000000000.0, 0) AS BIGINT)) <> 0 THEN
        |    round(sum(CAST(round(a * d / n * 1000000000.0, 0) AS BIGINT))
        |      / sum(CAST(round(b * c / n * 1000000000.0, 0) AS BIGINT))::DOUBLE, 6)
        |    END AS or_mh,
        |  CASE WHEN sum(b) * sum(c) <> 0 THEN
        |    round(sum(a) * sum(d) / (sum(b) * sum(c))::DOUBLE, 6) END AS or_crude
        |FROM w""".stripMargin,
    // Exact ntile boundaries over integer cents - all-integer output.
    "range_partition_plan" ->
      """WITH o AS (
        |  SELECT o_orderkey, round(o_totalprice * 100, 0)::BIGINT AS cents
        |  FROM orders
        |), b AS (
        |  SELECT cents,
        |    ntile(32) OVER (ORDER BY cents, o_orderkey)::BIGINT AS pid
        |  FROM o
        |), t AS (SELECT count(*)::BIGINT AS n_tot FROM o)
        |SELECT pid, count(*)::BIGINT AS n_rows,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents,
        |  count(*)::BIGINT * 10000 // n_tot AS share_bp
        |FROM b CROSS JOIN t GROUP BY pid, n_tot ORDER BY pid""".stripMargin,
    // Rank-weighted sum in HUGEINT; one double division at display.
    "revenue_gini" ->
      """WITH c AS (
        |  SELECT o_custkey,
        |    sum(round(o_totalprice * 100, 0)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_custkey)::HUGEINT AS rk
        |  FROM c
        |)
        |SELECT count(*)::BIGINT AS n_customers, sum(cents)::BIGINT AS total_cents,
        |  round((2 * sum(rk * cents) - (count(*) + 1) * sum(cents)::HUGEINT)::DOUBLE
        |    / (count(*)::HUGEINT * sum(cents))::DOUBLE, 6) AS gini
        |FROM r""".stripMargin,
    // Every replicate decision is an exact cross-multiplied HUGEINT
    // comparison; only the two display ratios are floats.
    "ab_permutation" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(round(value * 1000000, 0) AS BIGINT) AS v,
        |    CASE WHEN (user_id % 1000000 * 2654435761 + 13) % 1000000 < 500000
        |      THEN 0 ELSE 1 END AS arm0
        |  FROM events
        |), o AS (
        |  SELECT sum(CASE WHEN arm0 = 0 THEN v ELSE 0 END)::BIGINT AS sa0,
        |    sum(CASE WHEN arm0 = 0 THEN 1 ELSE 0 END)::BIGINT AS na0,
        |    sum(CASE WHEN arm0 = 1 THEN v ELSE 0 END)::BIGINT AS sb0,
        |    sum(CASE WHEN arm0 = 1 THEN 1 ELSE 0 END)::BIGINT AS nb0
        |  FROM ev
        |), reps AS (
        |  SELECT j,
        |    sum(CASE WHEN arm = 0 THEN v ELSE 0 END)::BIGINT AS sa,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN arm = 1 THEN v ELSE 0 END)::BIGINT AS sb,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nb
        |  FROM (
        |    SELECT v, j, (arm0 + CASE WHEN
        |        (user_id % 1000000 * 2654435761 + j * 7919) % 1000000 < 500000
        |        THEN 1 ELSE 0 END) % 2 AS arm
        |    FROM ev CROSS JOIN (SELECT unnest(range(1, 65))::BIGINT AS j))
        |  GROUP BY j
        |), cmp AS (
        |  SELECT na0, nb0,
        |    (sa0::HUGEINT * nb0 - sb0::HUGEINT * na0) AS a0,
        |    (sa::HUGEINT * nb - sb::HUGEINT * na) AS aj,
        |    na, nb
        |  FROM reps CROSS JOIN o
        |)
        |SELECT na0 AS n_a, nb0 AS n_b,
        |  round(a0::DOUBLE / (na0 * nb0)::DOUBLE / 1000000.0, 6) AS diff_obs,
        |  64::BIGINT AS b_reps,
        |  sum(CASE WHEN abs(aj) * (na0::HUGEINT * nb0)
        |      >= abs(a0) * (na::HUGEINT * nb) THEN 1 ELSE 0 END)::BIGINT AS n_ge,
        |  round((1 + sum(CASE WHEN abs(aj) * (na0::HUGEINT * nb0)
        |      >= abs(a0) * (na::HUGEINT * nb) THEN 1 ELSE 0 END)) / 65.0, 6)
        |    AS p_value
        |FROM cmp GROUP BY na0, nb0, a0""".stripMargin,
    // Coins are md5 60-bit draws vs exact integer thresholds; the
    // estimator recovers from integer tallies.
    "dp_rr" ->
      """WITH r AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    CASE WHEN ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
        |      < 864691128455135232 THEN 1 ELSE 0 END AS truthful,
        |    CASE WHEN ('0x' || substr(md5(event_id::VARCHAR || ':rr'), 1, 15))::BIGINT
        |      < 576460752303423488 THEN 1 ELSE 0 END AS rand_bit
        |  FROM events
        |), rep AS (
        |  SELECT y, CASE WHEN truthful = 1 THEN y ELSE rand_bit END AS rep FROM r
        |)
        |SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS n_true,
        |  sum(rep)::BIGINT AS n_reported,
        |  round(sum(rep) / count(*), 6) AS reported_rate,
        |  round((sum(rep) / count(*) - 0.125::DOUBLE) / 0.75::DOUBLE, 6) AS pi_hat,
        |  round(sum(y) / count(*), 6) AS true_rate
        |FROM rep""".stripMargin,
    // Unnormalized integer HITS: every score is an exact path count,
    // so the three unrolled rounds hash exactly.
    "graph_hits" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), a1 AS (
        |  SELECT item, count(*)::BIGINT AS a FROM b GROUP BY 1
        |), h1 AS (
        |  SELECT basket, sum(a)::BIGINT AS h FROM b JOIN a1 USING (item) GROUP BY 1
        |), a2 AS (
        |  SELECT item, sum(h)::BIGINT AS a FROM b JOIN h1 USING (basket) GROUP BY 1
        |), h2 AS (
        |  SELECT basket, sum(a)::BIGINT AS h FROM b JOIN a2 USING (item) GROUP BY 1
        |), a3 AS (
        |  SELECT item, sum(h)::BIGINT AS a FROM b JOIN h2 USING (basket) GROUP BY 1
        |)
        |SELECT item AS l_partkey, a AS authority
        |FROM a3 ORDER BY authority DESC, l_partkey LIMIT 50""".stripMargin,
    // Same risk-set CTEs as survival_km; increments round to integer
    // ppb before the running sum, so the hash is prefix-exact.
    "survival_na" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
        |), h AS (SELECT max(ts_us) AS h_end FROM ev),
        |life AS (
        |  SELECT user_id,
        |    (max(ts_us) - min(ts_us)) // 86400000000 AS k,
        |    max(ts_us) >= (SELECT h_end FROM h) - 86400000000 AS censored
        |  FROM ev GROUP BY user_id
        |), deaths AS (
        |  SELECT k, count(*) AS d FROM life WHERE NOT censored GROUP BY k
        |), at_risk AS (
        |  SELECT d.k, count(*) AS n_risk
        |  FROM deaths d JOIN life l ON l.k >= d.k GROUP BY d.k
        |)
        |SELECT d.k AS day, n_risk, d AS d_events,
        |  round(sum(CAST(round(d * 1000000000.0 / n_risk, 0) AS BIGINT)) OVER (
        |    ORDER BY d.k ROWS UNBOUNDED PRECEDING) / 1000000000.0, 6)
        |    AS cum_hazard
        |FROM deaths d JOIN at_risk a ON a.k = d.k
        |ORDER BY day""".stripMargin,
    // Exact integer concordance tallies over the bounded hour-pair
    // grid; tau-b divides once at display.
    "events_kendall" ->
      """WITH g AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS b
        |  FROM events GROUP BY 1
        |), cd AS (
        |  SELECT count(*)::BIGINT AS n0,
        |    sum(CASE WHEN (x.a < y.a AND x.b < y.b)
        |          OR (x.a > y.a AND x.b > y.b) THEN 1 ELSE 0 END)::BIGINT AS nc,
        |    sum(CASE WHEN (x.a < y.a AND x.b > y.b)
        |          OR (x.a > y.a AND x.b < y.b) THEN 1 ELSE 0 END)::BIGINT AS nd
        |  FROM g x JOIN g y ON x.h < y.h
        |), t1 AS (
        |  SELECT coalesce(sum(c * (c - 1) // 2), 0)::BIGINT AS n1
        |  FROM (SELECT count(*)::BIGINT AS c FROM g GROUP BY a)
        |), t2 AS (
        |  SELECT coalesce(sum(c * (c - 1) // 2), 0)::BIGINT AS n2
        |  FROM (SELECT count(*)::BIGINT AS c FROM g GROUP BY b)
        |), nh AS (SELECT count(*)::BIGINT AS n_hours FROM g)
        |SELECT n_hours, nc AS n_conc, nd AS n_disc, n1 AS ties_a, n2 AS ties_b,
        |  round((nc - nd) / sqrt((n0 - n1) * (n0 - n2)), 6) AS tau_b
        |FROM cd CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN nh""".stripMargin,
    // Per-lag Pearson from exact integer moments; zero-variance lags
    // surface as NULL on both engines.
    "events_ccf" ->
      """WITH g AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS b
        |  FROM events GROUP BY 1
        |), l AS (SELECT unnest(range(0, 7))::BIGINT AS lag_h),
        |m AS (
        |  SELECT lag_h, count(*)::BIGINT AS n,
        |    sum(x.a)::BIGINT AS sx, sum(y.b)::BIGINT AS sy,
        |    sum(x.a * y.b)::BIGINT AS sxy,
        |    sum(x.a * x.a)::BIGINT AS sxx,
        |    sum(y.b * y.b)::BIGINT AS syy
        |  FROM g x CROSS JOIN l JOIN g y ON y.h = x.h + lag_h
        |  GROUP BY lag_h
        |)
        |SELECT lag_h, n,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN round((n * sxy - sx * sy)
        |      / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        |  END AS r
        |FROM m ORDER BY lag_h""".stripMargin,
    "survival_km" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
        |), h AS (SELECT max(ts_us) AS h_end FROM ev),
        |life AS (
        |  SELECT user_id,
        |    (max(ts_us) - min(ts_us)) // 86400000000 AS k,
        |    max(ts_us) >= (SELECT h_end FROM h) - 86400000000 AS censored
        |  FROM ev GROUP BY user_id
        |), deaths AS (
        |  SELECT k, count(*) AS d FROM life WHERE NOT censored GROUP BY k
        |), at_risk AS (
        |  SELECT d.k, count(*) AS n_risk
        |  FROM deaths d JOIN life l ON l.k >= d.k GROUP BY d.k
        |)
        |SELECT d.k AS day, n_risk, d AS d_events,
        |  round(exp(sum(ln(1.0 - d / n_risk::DOUBLE)) OVER (
        |    ORDER BY d.k ROWS UNBOUNDED PRECEDING)), 6) AS survival
        |FROM deaths d JOIN at_risk a ON a.k = d.k
        |ORDER BY day""".stripMargin,
    "littles_law" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events
        |), f AS (
        |  SELECT *, CASE WHEN tsu - lag(tsu) OVER w > 1800000000
        |    OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |), sx AS (
        |  SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM f
        |), sess AS (
        |  SELECT min(tsu) AS st, max(tsu) AS en
        |  FROM sx GROUP BY user_id, session_idx
        |), pts AS (
        |  SELECT t, sum(delta)::BIGINT AS delta FROM (
        |    SELECT st AS t, 1 AS delta FROM sess
        |    UNION ALL SELECT en, -1 FROM sess) u
        |  GROUP BY t
        |), swept AS (
        |  SELECT t,
        |    (sum(delta) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))::BIGINT AS cnt,
        |    lead(t) OVER (ORDER BY t) - t AS gap
        |  FROM pts
        |), area AS (
        |  SELECT sum(cnt * gap)::BIGINT AS area_us FROM swept WHERE gap IS NOT NULL
        |), tot AS (
        |  SELECT count(*) AS n_sessions, sum(en - st)::BIGINT AS dur_us,
        |    (max(en) - min(st))::BIGINT AS horizon_us
        |  FROM sess
        |)
        |SELECT n_sessions, area_us, dur_us, horizon_us,
        |  area_us = dur_us AS l_equals_lambda_w,
        |  round(area_us / horizon_us::DOUBLE, 6) AS avg_concurrency
        |FROM area CROSS JOIN tot""".stripMargin,
    "encoding_advisor" -> Seq(
      ("customer", "c_mktsegment"), ("documents", "lang"),
      ("documents", "source"), ("lineitem", "l_returnflag"),
      ("orders", "o_orderpriority")).map { case (t, c) =>
        s"""SELECT '$t' AS table_name, '$c' AS column_name,
           |  n, ndv, raw_bytes, dict_bytes,
           |  (greatest(raw_bytes - dict_bytes, 0) * 10000 // raw_bytes)::BIGINT
           |    AS savings_bp
           |FROM (
           |  SELECT (SELECT count(*) FROM $t) AS n,
           |    (SELECT count(DISTINCT $c) FROM $t) AS ndv,
           |    (SELECT sum(strlen($c))::BIGINT FROM $t) AS raw_bytes,
           |    (SELECT (sum(strlen(v)) + (SELECT count(*) FROM $t) *
           |       (CASE WHEN count(*) <= 256 THEN 1
           |             WHEN count(*) <= 65536 THEN 2 ELSE 4 END))::BIGINT
           |     FROM (SELECT DISTINCT $c AS v FROM $t
           |           WHERE $c IS NOT NULL) dv) AS dict_bytes
           |) s""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name, column_name"),
    "slo_burn" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
        |    count(*) AS n1,
        |    sum(CASE WHEN value > 95.0 THEN 1 ELSE 0 END)::BIGINT AS e1
        |  FROM events GROUP BY 1, 2
        |), win AS (
        |  SELECT *, (sum(n1) OVER w6)::BIGINT AS n6, (sum(e1) OVER w6)::BIGINT AS e6
        |  FROM hourly WINDOW w6 AS (PARTITION BY event_type ORDER BY hour_idx
        |    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type, hour_idx, n1, e1, n6, e6,
        |  round(e1 * 20.0 / n1, 6) AS burn_1h,
        |  round(e6 * 20.0 / n6, 6) AS burn_6h,
        |  (e1 * 100 > n1 * 72 AND e6 * 10 > n6 * 3) AS page,
        |  (e1 * 20 > n1 * 3 AND e6 * 40 > n6 * 3) AS ticket
        |FROM win ORDER BY 1, 2""".stripMargin,
    "bandit_replay" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS reward
        |  FROM events
        |), hourly AS (
        |  SELECT event_type, hour_idx, count(*) AS n, sum(reward)::BIGINT AS r
        |  FROM ev GROUP BY 1, 2
        |), grid AS (
        |  SELECT a.event_type, h.hour_idx,
        |    coalesce(hh.n, 0) AS n, coalesce(hh.r, 0) AS r
        |  FROM (SELECT DISTINCT event_type FROM hourly) a
        |  CROSS JOIN (SELECT DISTINCT hour_idx FROM hourly) h
        |  LEFT JOIN hourly hh
        |    ON hh.event_type = a.event_type AND hh.hour_idx = h.hour_idx
        |), cum AS (
        |  SELECT *, coalesce(sum(n) OVER wc, 0)::BIGINT AS cn,
        |    coalesce(sum(r) OVER wc, 0)::BIGINT AS cr
        |  FROM grid WINDOW wc AS (PARTITION BY event_type ORDER BY hour_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), pick AS (
        |  SELECT hour_idx, event_type AS chosen_arm,
        |    row_number() OVER (PARTITION BY hour_idx
        |      ORDER BY (cr + 1.0) / (cn + 2.0) DESC, event_type) AS rk
        |  FROM cum
        |)
        |SELECT p.hour_idx, p.chosen_arm,
        |  coalesce(h.n, 0)::BIGINT AS n_matched,
        |  round(coalesce(h.r, 0) / h.n::DOUBLE, 6) AS replay_ctr
        |FROM pick p LEFT JOIN hourly h
        |  ON h.event_type = p.chosen_arm AND h.hour_idx = p.hour_idx
        |WHERE rk = 1 ORDER BY p.hour_idx""".stripMargin,
    "vec_quantize" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |    list_min(embedding) AS mn, list_max(embedding) AS mx
        |  FROM embeddings
        |), scaled AS (
        |  SELECT *, CASE WHEN mx = mn THEN 1.0
        |    ELSE (mx - mn) / 255.0 END AS scale
        |  FROM base
        |), coded AS (
        |  SELECT vec_id, scale,
        |    list_transform(embedding,
        |      x -> round((x - mn) / scale, 0)::INT) AS codes,
        |    list_max(list_transform(embedding,
        |      x -> abs(x - (mn + round((x - mn) / scale, 0) * scale)))) AS maxerr
        |  FROM scaled
        |)
        |SELECT vec_id, len(codes) AS n_dims,
        |  list_sum(list_transform(codes, c -> c::BIGINT))::BIGINT AS sum_codes,
        |  list_sum(list_transform(codes, c -> c::BIGINT * c))::BIGINT AS sum_sq,
        |  maxerr <= scale * 0.5000001 AS within_bound
        |FROM coded ORDER BY vec_id""".stripMargin,
    "events_ohlc" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us
        |  FROM events
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, hour_us
        |      ORDER BY ts_us, event_id) AS rn,
        |    row_number() OVER (PARTITION BY event_type, hour_us
        |      ORDER BY ts_us DESC, event_id DESC) AS rd
        |  FROM ev
        |)
        |SELECT event_type, hour_us, count(*) AS n,
        |  max(CASE WHEN rn = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_twap" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
        |    (epoch_us(ts) // 86400000000) * 86400000000 AS day_us
        |  FROM events
        |), wtd AS (
        |  SELECT *,
        |    coalesce(lead(ts_us) OVER (PARTITION BY event_type, day_us
        |      ORDER BY ts_us, event_id), day_us + 86400000000) - ts_us AS wt
        |  FROM ev
        |)
        |SELECT event_type, day_us, count(*) AS n,
        |  round(sum(value * wt) / sum(wt), 6) AS twap,
        |  round(avg(value), 6) AS plain_avg
        |FROM wtd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dq_constraints" ->
      """WITH wide AS (
        |  SELECT count(*) AS n_rows,
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_nn,
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)::BIGINT AS v_qty,
        |    sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)::BIGINT AS v_disc,
        |    sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)::BIGINT AS v_flag,
        |    sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)::BIGINT AS v_price
        |  FROM lineitem
        |), uniq AS (
        |  SELECT count(*) AS n_distinct FROM
        |    (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem) d
        |), one AS (
        |  SELECT wide.*, (n_rows - n_distinct)::BIGINT AS v_uniq
        |  FROM wide CROSS JOIN uniq
        |), rows_ AS (
        |  SELECT 'l_orderkey_not_null' AS rule, n_rows, v_nn AS n_violations FROM one
        |  UNION ALL SELECT 'order_line_unique', n_rows, v_uniq FROM one
        |  UNION ALL SELECT 'quantity_in_1_50', n_rows, v_qty FROM one
        |  UNION ALL SELECT 'discount_in_0_01', n_rows, v_disc FROM one
        |  UNION ALL SELECT 'returnflag_in_set', n_rows, v_flag FROM one
        |  UNION ALL SELECT 'price_positive', n_rows, v_price FROM one
        |)
        |SELECT rule, n_rows, n_violations, n_violations = 0 AS passed
        |FROM rows_ ORDER BY rule""".stripMargin,
    "q25_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS s_suppkey,
        |    sum(round(l_extendedprice * (1.0 - l_discount) * 100, 0)::BIGINT)::BIGINT AS c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1
        |), mx AS (SELECT max(c) AS mxc FROM rev)
        |SELECT s_suppkey, s_name, round(c / 100.0, 2) AS total_revenue
        |FROM rev CROSS JOIN mx
        |JOIN supplier USING (s_suppkey)
        |WHERE c = mxc ORDER BY s_suppkey""".stripMargin,
    "replica_repair" ->
      """WITH keyed AS (
        |  SELECT *,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS kh
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, kh % 16 AS bucket,
        |    ('0x' || substr(md5(concat_ws('|',
        |      coalesce(doc_id::VARCHAR, '\N'), coalesce(text, '\N'),
        |      coalesce(lang, '\N'), coalesce(source, '\N'),
        |      coalesce(n_chars::VARCHAR, '\N'))), 1, 15))::BIGINT AS h_a
        |  FROM keyed
        |), replica AS (
        |  SELECT doc_id, kh % 16 AS bucket,
        |    ('0x' || substr(md5(concat_ws('|',
        |      coalesce(doc_id::VARCHAR, '\N'),
        |      coalesce(CASE WHEN kh % 89 = 1 THEN text || ' [v2]' ELSE text END, '\N'),
        |      coalesce(lang, '\N'), coalesce(source, '\N'),
        |      coalesce(n_chars::VARCHAR, '\N'))), 1, 15))::BIGINT AS h_b
        |  FROM keyed WHERE kh % 97 <> 0
        |)
        |SELECT coalesce(b.bucket, r.bucket) AS bucket,
        |  sum(CASE WHEN h_b IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing,
        |  sum(CASE WHEN h_a IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_extra,
        |  sum(CASE WHEN h_a IS NOT NULL AND h_b IS NOT NULL AND h_a <> h_b
        |    THEN 1 ELSE 0 END)::BIGINT AS n_stale
        |FROM base b FULL OUTER JOIN replica r USING (doc_id)
        |GROUP BY 1
        |HAVING sum(CASE WHEN h_b IS NULL THEN 1 ELSE 0 END)
        |  + sum(CASE WHEN h_a IS NULL THEN 1 ELSE 0 END)
        |  + sum(CASE WHEN h_a IS NOT NULL AND h_b IS NOT NULL AND h_a <> h_b
        |      THEN 1 ELSE 0 END) > 0
        |ORDER BY bucket""".stripMargin,
    "markov_attribution" -> markovSql,
    "cohort_ltv" ->
      """WITH ord AS (
        |  SELECT o_custkey, round(o_totalprice * 100, 0)::BIGINT AS cents,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m
        |  FROM orders
        |), fo AS (SELECT o_custkey, min(m) AS m0 FROM ord GROUP BY 1),
        |sz AS (SELECT m0, count(*) AS n_custs FROM fo GROUP BY 1),
        |rev AS (
        |  SELECT m0, m - m0 AS k, sum(cents)::BIGINT AS cents
        |  FROM ord JOIN fo USING (o_custkey) GROUP BY 1, 2
        |), cum AS (
        |  SELECT m0, k, cents,
        |    (sum(cents) OVER (PARTITION BY m0 ORDER BY k
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_cents
        |  FROM rev
        |)
        |SELECT (m0 - 1) // 12 AS cohort_year, (m0 - 1) % 12 + 1 AS cohort_month,
        |  k, n_custs, round(cents / 100.0, 2) AS revenue,
        |  round((cum_cents // n_custs) / 100.0, 2) AS cum_rev_per_cust
        |FROM cum JOIN sz USING (m0)
        |ORDER BY cohort_year, cohort_month, k""".stripMargin,
    "join_size_audit" -> Seq(
      joinEdgeSql("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      joinEdgeSql("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      joinEdgeSql("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      joinEdgeSql("orders_customer", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge"),
    "table_merkle" ->
      """WITH base AS (
        |  SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16 AS bucket,
        |    ('0x' || substr(md5(concat_ws('|',
        |      coalesce(doc_id::VARCHAR, '\N'), coalesce(text, '\N'),
        |      coalesce(lang, '\N'), coalesce(source, '\N'),
        |      coalesce(n_chars::VARCHAR, '\N'))), 1, 15))::BIGINT AS hv
        |  FROM documents
        |), grouped AS (
        |  SELECT bucket, count(*) AS n_rows, bit_xor(hv) AS checksum
        |  FROM base GROUP BY 1
        |), leaves AS (
        |  -- fixed 16-leaf level: absent buckets emit (0, 0), mirroring
        |  -- the engine's generated spine
        |  SELECT g.bucket, coalesce(l.n_rows, 0)::BIGINT AS n_rows,
        |    coalesce(l.checksum, 0)::BIGINT AS checksum
        |  FROM (SELECT unnest(range(0, 16))::BIGINT AS bucket) g
        |  LEFT JOIN grouped l USING (bucket)
        |), root AS (
        |  SELECT 0 AS level, -1 AS bucket, sum(n_rows)::BIGINT AS n_rows,
        |    bit_xor(('0x' || substr(md5(bucket::VARCHAR || ':' ||
        |      n_rows::VARCHAR || ':' || checksum::VARCHAR), 1, 15))::BIGINT)
        |      AS checksum
        |  FROM leaves
        |)
        |SELECT 1 AS level, bucket, n_rows, checksum FROM leaves
        |UNION ALL
        |SELECT * FROM root
        |ORDER BY level, bucket""".stripMargin,
    "basket_triples" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |)
        |SELECT x.item AS item_a, y.item AS item_b, z.item AS item_c,
        |  count(*) AS support
        |FROM b x
        |JOIN b y ON x.basket = y.basket AND x.item < y.item
        |JOIN b z ON y.basket = z.basket AND y.item < z.item
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY item_a, item_b, item_c""".stripMargin,
    "revenue_tree" ->
      """WITH nat AS (
        |  SELECT r_name, n_name,
        |    sum(round(l_extendedprice * (1.0 - l_discount) * 100, 0)::BIGINT)::BIGINT
        |      AS c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2
        |)
        |SELECT r_name, n_name, round(c / 100.0, 2) AS revenue,
        |  (c * 10000 // sum(c) OVER (PARTITION BY r_name))::BIGINT
        |    AS share_region_bp,
        |  (c * 10000 // sum(c) OVER ())::BIGINT AS share_total_bp
        |FROM nat ORDER BY r_name, n_name""".stripMargin,
    "watermark_audit" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us,
        |    max(epoch_us(ts)) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM events
        |), agg AS (
        |  SELECT count(*) AS n_events,
        |    sum(CASE WHEN hwm - 60000000 > ts_us THEN 1 ELSE 0 END)::BIGINT AS l0,
        |    sum(CASE WHEN hwm - 600000000 > ts_us THEN 1 ELSE 0 END)::BIGINT AS l1,
        |    sum(CASE WHEN hwm - 3600000000 > ts_us THEN 1 ELSE 0 END)::BIGINT AS l2
        |  FROM ev
        |)
        |SELECT 60::BIGINT AS delay_s, n_events, l0 AS n_late,
        |  (l0 * 10000 // n_events)::BIGINT AS late_bp FROM agg
        |UNION ALL
        |SELECT 600, n_events, l1, (l1 * 10000 // n_events)::BIGINT FROM agg
        |UNION ALL
        |SELECT 3600, n_events, l2, (l2 * 10000 // n_events)::BIGINT FROM agg
        |ORDER BY delay_s""".stripMargin,
    "session_sensitivity" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events
        |), agg AS (
        |  SELECT count(*) AS n_events,
        |    sum(CASE WHEN gap IS NULL OR gap > 300000000 THEN 1 ELSE 0 END)::BIGINT AS s0,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)::BIGINT AS s1,
        |    sum(CASE WHEN gap IS NULL OR gap > 7200000000 THEN 1 ELSE 0 END)::BIGINT AS s2
        |  FROM ev
        |)
        |SELECT 300::BIGINT AS gap_s, n_events, s0 AS n_sessions,
        |  round(n_events / s0::DOUBLE, 6) AS mean_session_events FROM agg
        |UNION ALL
        |SELECT 1800, n_events, s1, round(n_events / s1::DOUBLE, 6) FROM agg
        |UNION ALL
        |SELECT 7200, n_events, s2, round(n_events / s2::DOUBLE, 6) FROM agg
        |ORDER BY gap_s""".stripMargin,
    "anomaly_fdr" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), stats AS (
        |  SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sd
        |  FROM hourly GROUP BY 1
        |), zz AS (
        |  SELECT h.event_type, hour_us, n, round((n - mu) / sd, 6) AS z
        |  FROM hourly h JOIN stats s ON h.event_type = s.event_type
        |  WHERE sd > 0
        |), pz AS (
        |  SELECT *, round(exp(-0.717 * abs(z) - 0.416 * abs(z) * abs(z)), 9) AS p
        |  FROM zz
        |), m AS (SELECT count(*) AS mm FROM pz),
        |ranked AS (
        |  SELECT pz.*, mm,
        |    row_number() OVER (ORDER BY p, event_type, hour_us)::BIGINT AS i
        |  FROM pz CROSS JOIN m
        |), hits AS (
        |  SELECT max(CASE WHEN p <= i / (10.0 * mm) THEN i ELSE 0 END) AS kmax
        |  FROM ranked
        |)
        |SELECT event_type, hour_us, n, z, p, i
        |FROM ranked CROSS JOIN hits WHERE i <= kmax ORDER BY i""".stripMargin,
    "assoc_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), m AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
        |p AS (
        |  SELECT x.item AS item_a, y.item AS item_b, count(*) AS n_ab
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), pairs AS (
        |  SELECT item_a AS antecedent, item_b AS consequent, n_ab FROM p
        |  UNION ALL
        |  SELECT item_b, item_a, n_ab FROM p
        |)
        |SELECT antecedent, consequent, n_ab,
        |  round(n_ab / m.n_item::DOUBLE, 6) AS conf
        |FROM pairs JOIN m ON m.item = pairs.antecedent
        |WHERE round(n_ab / m.n_item::DOUBLE, 6) >= 0.1
        |ORDER BY 1, 2""".stripMargin,
    "source_jsd" ->
      """WITH lt AS (
        |  SELECT source, tok, count(*) AS c FROM (
        |    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |    FROM documents) x
        |  WHERE length(tok) > 0 GROUP BY 1, 2
        |), n AS (SELECT source, sum(c) AS n FROM lt GROUP BY 1),
        |st AS (
        |  SELECT lt.source, tok, c / n::DOUBLE AS p
        |  FROM lt JOIN n ON lt.source = n.source
        |), pairs AS (
        |  SELECT x.source AS source_a, y.source AS source_b
        |  FROM n x JOIN n y ON x.source < y.source
        |), grid AS (
        |  SELECT source_a, source_b, tok, sum(pp) AS p, sum(qq) AS q FROM (
        |    SELECT source_a, source_b, tok, p AS pp, 0.0 AS qq
        |    FROM st JOIN pairs ON st.source = pairs.source_a
        |    UNION ALL
        |    SELECT source_a, source_b, tok, 0.0, p
        |    FROM st JOIN pairs ON st.source = pairs.source_b) u
        |  GROUP BY 1, 2, 3
        |)
        |SELECT source_a, source_b, count(*) AS n_union_toks,
        |  round(sum(
        |    (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END) * 0.5 +
        |    (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0.0 END) * 0.5),
        |    6) AS jsd
        |FROM grid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "zonemap_prune" ->
      """WITH bounds AS (
        |  SELECT max(event_id) AS mx_id, min(epoch_us(ts)) AS g_mn,
        |    max(epoch_us(ts)) AS g_mx
        |  FROM events
        |), z AS (
        |  SELECT event_id * 64 // (mx_id + 1) AS bucket,
        |    count(*) AS n_rows,
        |    min(value) AS mn_v, max(value) AS mx_v,
        |    min(epoch_us(ts)) AS mn_t,
        |    max(g_mn) AS b_mn, max(g_mx) AS b_mx,
        |    sum(CASE WHEN value >= 95.0 THEN 1 ELSE 0 END) AS m_v95,
        |    sum(CASE WHEN value BETWEEN 40.0 AND 41.0 THEN 1 ELSE 0 END) AS m_v4041,
        |    sum(CASE WHEN epoch_us(ts) <= g_mn + (g_mx - g_mn) // 20
        |        THEN 1 ELSE 0 END) AS m_early
        |  FROM events CROSS JOIN bounds GROUP BY 1
        |)
        |SELECT 'ts_first_5pct' AS predicate, count(*) AS n_files,
        |  sum(CASE WHEN mn_t <= b_mn + (b_mx - b_mn) // 20 THEN 1 ELSE 0 END)::BIGINT AS n_scanned,
        |  sum(CASE WHEN mn_t <= b_mn + (b_mx - b_mn) // 20 THEN n_rows ELSE 0 END)::BIGINT AS rows_scanned,
        |  sum(m_early)::BIGINT AS rows_matching
        |FROM z
        |UNION ALL
        |SELECT 'value_40_to_41', count(*),
        |  sum(CASE WHEN mx_v >= 40.0 AND mn_v <= 41.0 THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN mx_v >= 40.0 AND mn_v <= 41.0 THEN n_rows ELSE 0 END)::BIGINT,
        |  sum(m_v4041)::BIGINT
        |FROM z
        |UNION ALL
        |SELECT 'value_ge_95', count(*),
        |  sum(CASE WHEN mx_v >= 95.0 THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN mx_v >= 95.0 THEN n_rows ELSE 0 END)::BIGINT,
        |  sum(m_v95)::BIGINT
        |FROM z
        |ORDER BY predicate""".stripMargin,
    "graph_kcore" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), p AS (
        |  SELECT x.item AS a, y.item AS b
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY x.item, y.item
        |  HAVING count(*) >= 2
        |), s0 AS (
        |  SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p
        |), k1 AS (SELECT a FROM s0 GROUP BY a HAVING count(*) >= 2),
        |s1 AS (SELECT s0.a, s0.b FROM s0
        |  WHERE s0.a IN (SELECT a FROM k1) AND s0.b IN (SELECT a FROM k1)),
        |k2 AS (SELECT a FROM s1 GROUP BY a HAVING count(*) >= 2),
        |s2 AS (SELECT s1.a, s1.b FROM s1
        |  WHERE s1.a IN (SELECT a FROM k2) AND s1.b IN (SELECT a FROM k2)),
        |k3 AS (SELECT a FROM s2 GROUP BY a HAVING count(*) >= 2),
        |s3 AS (SELECT s2.a, s2.b FROM s2
        |  WHERE s2.a IN (SELECT a FROM k3) AND s2.b IN (SELECT a FROM k3)),
        |k4 AS (SELECT a FROM s3 GROUP BY a HAVING count(*) >= 2),
        |s4 AS (SELECT s3.a, s3.b FROM s3
        |  WHERE s3.a IN (SELECT a FROM k4) AND s3.b IN (SELECT a FROM k4))
        |SELECT a AS item, count(*) AS deg FROM s4 GROUP BY a ORDER BY item""".stripMargin,
  )
}
