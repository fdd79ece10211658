package graft.queries

import graft.Tables
import graft.ops.{Multimodal, Sessionize}
import graft.streaming.{CleanStream, EnrichStream, EventStream, JoinStream, MerkleStream, OuterJoinStream, StreamDedup, UpsertStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver wiring for streaming + multimodal (SURVEY §2 #29–30). The
  * streaming query is drained batch-equivalently (available-now trigger,
  * memory sink) so DuckDB can oracle the same aggregation; the multimodal
  * stub's integer arithmetic is likewise SQL-reproducible.
  */
object StreamMmQueries {

  /** #29 watermarked hourly tumbling-window aggregation over events,
    * executed through Structured Streaming. */
  def streamWindowAgg(s: SparkSession, dir: String): DataFrame =
    EventStream.runBatchEquivalent(s, dir)
      .orderBy("window_start", "event_type")

  /** #29m streaming windowed count-min sketch
    * ([[EventStream.cmSketchAgg]]): per-window 4×64 CM counters of the
    * user-id stream, drained and hash-checked against the batch
    * recomputation — deterministic md5-bucket integers, no tolerance. */
  def streamCmSketch(s: SparkSession, dir: String): DataFrame =
    EventStream.runCmBatchEquivalent(s, dir)
      .orderBy("window_start", "r", "bucket")

  /** #29q declarative session windows ([[EventStream.sessionWindowAgg]]):
    * the engine's built-in `session_window` against the same gap-session
    * oracle the custom-state sessionizer answers to. */
  def streamSessionWindow(s: SparkSession, dir: String): DataFrame =
    EventStream.runSessionWindowBatchEquivalent(s, dir)
      .orderBy("user_id", "start_us")

  /** #29p streaming OHLC candlesticks ([[EventStream.ohlcAgg]]):
    * mergeable struct-min/max open/close state, hash-matched against
    * the batch `events_ohlc` derivation. */
  def streamOhlc(s: SparkSession, dir: String): DataFrame =
    EventStream.runOhlcBatchEquivalent(s, dir)
      .orderBy("event_type", "hour_us")

  /** #29n streaming incremental Merkle digest
    * ([[MerkleStream.runBatchEquivalent]]): per-bucket XOR fingerprints
    * maintained micro-batch by micro-batch; the oracle recomputes the
    * batch leaves — incremental and full recompute must agree exactly. */
  def streamMerkle(s: SparkSession, dir: String): DataFrame =
    MerkleStream.runBatchEquivalent(s, dir)
      .orderBy("bucket")

  /** #29i streaming windowed approx-distinct users: HLL sketch state
    * per (window, type), audited per window against the batch-exact
    * distinct count — the oracle recomputes the exact side and expects
    * every window inside the bound. */
  /** #29j streaming windowed top-k event types (rank over the drained
    * windowed-count sink; see [[EventStream.runTopkBatchEquivalent]]). */
  def streamTopk(s: SparkSession, dir: String): DataFrame =
    EventStream.runTopkBatchEquivalent(s, dir)
      .orderBy("window_start", "rk")

  def streamDistinct(s: SparkSession, dir: String): DataFrame =
    EventStream.runDistinctBatchEquivalent(s, dir)
      .orderBy("window_start", "event_type")

  /** #29k streaming drift monitor: per-window PSI of the binned value
    * distribution vs the static global reference (see
    * [[EventStream.runDriftBatchEquivalent]]). */
  def streamDrift(s: SparkSession, dir: String): DataFrame =
    EventStream.runDriftBatchEquivalent(s, dir)
      .orderBy("window_start")

  /** #29l streaming stateful sessionization
    * ([[graft.streaming.SessionStream]], `flatMapGroupsWithState` with
    * event-time timeouts): the sessions the final watermark closes,
    * hash-checked against the batch gap-sessionization SQL restricted
    * by the same deterministic watermark cutoff. */
  def streamSession(s: SparkSession, dir: String): DataFrame =
    graft.streaming.SessionStream.runBatchEquivalent(s, dir)
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), round(col("sum_value"), 6).as("sum_value"))
      .orderBy("user_id", "session_start_us")

  /** #30 binary image payloads → per-partition REAL header decode →
    * typed metadata: each document row carries a format-conformant
    * PNG/JPEG byte stream (dims arithmetic in the id), and the fields
    * the driver hashes come out of the actual IHDR/SOF byte parse — a
    * mis-read offset, endianness slip, or broken marker scan
    * hash-mismatches every row. */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractImageMeta(
        Multimodal.syntheticImages(Tables.documents(s, dir), "doc_id"))
      .toDF()
      .orderBy("doc_id")

  /** #30d GIF binary columns: payloads written by the JDK's OWN GIF
    * encoder, header-parsed back by [[Multimodal.decodeImageHeader]]'s
    * logical-screen-descriptor walk — the parse target is a foreign
    * encoder's framing. n_bytes is encoder-dependent, so the oracle
    * checks the spec-derived fields (format + little-endian dims). */
  def multimodalGif(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractImageMeta(
        Multimodal.syntheticGifs(Tables.documents(s, dir), "doc_id"))
      .toDF()
      .select("doc_id", "format", "width", "height")
      .orderBy("doc_id")

  /** #30e TIFF binary columns: header + IFD0 tag-directory walk
    * ([[Multimodal.decodeTiffMeta]]) over both byte orders (II/MM
    * alternate by doc parity) — the EXIF/DNG-shaped directory parse,
    * structurally different from the fixed-offset PNG/GIF headers.
    * Orientation rides along as the classic must-read-the-IFD field. */
  def multimodalTiff(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractTiffMeta(
        Multimodal.syntheticTiffs(Tables.documents(s, dir), "doc_id"))
      .toDF()
      .select("doc_id", "byte_order", "width", "height", "orientation")
      .orderBy("doc_id")

  /** #5f' per-key interval-intersection join
    * ([[graft.ops.Intervals.intersectJoin]]): gap sessions clipped to
    * the per-user calendar-day grid — the temporal/validity join that
    * splits a session's span across the days it touches. Sessions are
    * closed intervals, so the half-open join sees end+1; day windows
    * are the [day, day+24h) grid of the user's active days. */
  def intervalIntersect(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val sess = Sessionize.sessions(ev, "user_id", "ts", 30L * 60 * 1000000, "event_id")
      .select(col("user_id"), col("session_idx"),
        col("session_start_us").as("s_start"),
        (col("session_end_us") + 1).as("s_end"))
    val days = ev
      .select(col("user_id"),
        expr("(unix_micros(ts) div 86400000000) * 86400000000").as("d_start"))
      .distinct()
      .withColumn("d_end", col("d_start") + lit(86400000000L))
    graft.ops.Intervals
      .intersectJoin(sess, days, Seq("user_id"), "s_start", "s_end", "d_start", "d_end")
      .select(col("user_id"), col("session_idx"), col("d_start").as("day_us"),
        col("o_start"), col("o_end"), (col("o_end") - col("o_start")).as("dur_us"))
      .orderBy("user_id", "session_idx", "day_us")
  }

  /** Gap sessionization (batch half; the incremental
    * `flatMapGroupsWithState` half is asserted equivalent in
    * `SourcesStreamingSpec`): 30-minute inactivity gap per user. */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(
        Tables.events(s, dir), "user_id", "ts", 30L * 60 * 1000000, "event_id",
        round(sum("value"), 6).as("sum_value"))
      .orderBy("user_id", "session_idx")

  /** #31b top session paths: the 20 most frequent per-session
    * event-type sequences (first 20 steps per session, total-ordered by
    * (ts, event_id)) — the behavioral-pattern rollup derived from
    * sessionized streams. The row_number gate bounds every path (and
    * the aggregation state) at 20 steps BEFORE collecting, so no whole
    * session is ever buffered. */
  def sessionPaths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = Sessionize.assign(
      Tables.events(s, dir), "user_id", "ts", 30L * 60 * 1000000, "event_id")
    val w = Window.partitionBy("user_id", "session_idx")
      .orderBy(col("tsu"), col("event_id"))
    sess
      .withColumn("tsu", unix_micros(col("ts")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .groupBy("user_id", "session_idx")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** #31d frequent within-session event-type n-grams (the first mining
    * step of PrefixSpan-style sequence mining): corpus-wide bigram and
    * trigram counts over the gap-sessionized per-user sequences, top-10
    * per gram length. Where [[sessionPaths]] counts WHOLE session
    * paths (sparse at scale — most full paths are unique),
    * sub-sequence n-grams aggregate densely and surface the common
    * behavioral motifs. Lag windows never materialize a session array;
    * state per row is two strings. Deterministic: integer counts,
    * (n desc, gram) tiebreak. */
  def sessionNgrams(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = Sessionize.assign(
        Tables.events(s, dir), "user_id", "ts", 30L * 60 * 1000000, "event_id")
      .withColumn("tsu", unix_micros(col("ts")))
    val w = Window.partitionBy("user_id", "session_idx")
      .orderBy(col("tsu"), col("event_id"))
    val lagged = sess
      .withColumn("p1", lag("event_type", 1).over(w))
      .withColumn("p2", lag("event_type", 2).over(w))
    val bi = lagged.filter(col("p1").isNotNull)
      .select(lit(2L).as("len"),
        concat_ws(">", col("p1"), col("event_type")).as("gram"))
    val tri = lagged.filter(col("p2").isNotNull)
      .select(lit(3L).as("len"),
        concat_ws(">", col("p2"), col("p1"), col("event_type")).as("gram"))
    bi.unionAll(tri)
      .groupBy("len", "gram").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("len").orderBy(col("n").desc, col("gram"))))
      .filter(col("rk") <= 10)
      .select("len", "gram", "n", "rk")
      .orderBy("len", "rk")
  }

  /** #29b stream-static enrichment: events joined to the broadcast user
    * dimension as they arrive, aggregated per (nation, event type). */
  def streamEnrich(s: SparkSession, dir: String): DataFrame =
    EnrichStream.runBatchEquivalent(s, dir)
      .orderBy("c_nationkey", "event_type")

  /** #29c watermarked stream-stream join: views attributed to the same
    * user's purchases within 30 minutes. */
  def streamJoin(s: SparkSession, dir: String): DataFrame =
    JoinStream.runBatchEquivalent(s, dir)
      .orderBy("view_id", "purchase_id")

  /** #29s streaming LEFT OUTER stream-stream join
    * ([[OuterJoinStream]]): the inner join's matches plus exactly-once
    * null rows for views the watermark proved unconvertible. The
    * oracle adds the frozen-watermark cutoff to the batch anti-join
    * side. */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame =
    OuterJoinStream.runBatchEquivalent(s, dir)
      .orderBy("view_id", "purchase_id")

  /** #30b binary audio payloads → per-partition REAL RIFF/WAVE header
    * decode: rate/channels/bits/frames come out of the actual
    * little-endian chunk walk, and every field is independently
    * id-arithmetic for the oracle. */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractAudioMeta(
        Multimodal.syntheticAudio(Tables.documents(s, dir), "doc_id"))
      .toDF()
      .orderBy("doc_id")

  /** #30c binary video payloads → per-partition REAL ISO-BMFF box
    * walk: movie timescale/duration from mvhd, track geometry from the
    * 16.16 fixed-point tkhd fields — all id-arithmetic for the
    * oracle. */
  def multimodalVideo(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractVideoMeta(
        Multimodal.syntheticVideos(Tables.documents(s, dir), "doc_id"))
      .toDF()
      .orderBy("doc_id")

  /** #29h streaming latest-wins upsert: every document arrives as an
    * original revision plus a one-hour-later re-crawl with changed
    * metadata; the change-log compacts to exactly the re-crawl. */
  def streamUpsert(s: SparkSession, dir: String): DataFrame =
    UpsertStream.runBatchEquivalent(s, dir)
      .orderBy("doc_id")

  /** #29d streaming exact dedup: every document ingested twice, the
    * watermark-bounded dedup state collapses each content to one row —
    * the result is the distinct corpus. */
  def streamDedup(s: SparkSession, dir: String): DataFrame =
    StreamDedup.runBatchEquivalent(s, dir)
      .orderBy("doc_id")

  /** #29e streaming ingest cleaning: quality gates in front of the
    * watermark dedup; the drained result aggregates to per-language
    * accepted counts + mean quality. */
  def streamClean(s: SparkSession, dir: String): DataFrame =
    CleanStream.runBatchEquivalent(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(round(graft.ops.TextAnalysis.qualityScore(col("text")), 6)), 6)
          .as("avg_quality"))
      .orderBy("lang")

  /** #29f sliding-window aggregation: 1 h windows every 30 min — each
    * event lands in exactly two overlapping windows. */
  def streamSliding(s: SparkSession, dir: String): DataFrame =
    EventStream.runSlidingBatchEquivalent(s, dir)
      .orderBy("window_start", "event_type")

  private val ckptCache = new Memo[DataFrame]

  /** #29g checkpointed incremental ingest, sql-decidable: the same
    * file-stream source is drained TWICE against ONE checkpoint
    * location — generation 1 (even doc_ids) lands in drain 1; then
    * generation 2 (odd doc_ids) is added to the watched directory and
    * drain 2, restarting from the checkpoint, must emit ONLY the new
    * generation's rows. A re-emitted even row (offset loss) or a
    * missing odd row (offset overshoot) breaks the count the oracle
    * recomputes from the documents table — exactly-once restart
    * semantics, hash-checked. */
  def streamCheckpoint(s: SparkSession, dir: String): DataFrame =
    ckptCache(s, dir)(Scratch.cleaned("graft_ckpt") { tmp =>
      import java.nio.file.Files
      val src = tmp.resolve("src"); val ckpt = tmp.resolve("ckpt")
      Files.createDirectories(src)
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")

      def publish(gen: String, pred: org.apache.spark.sql.Column): Unit = {
        val staging = tmp.resolve("staging_" + gen)
        docs.filter(pred).coalesce(1)
          .write.mode("overwrite").parquet(staging.toString)
        val part = Files.list(staging).iterator()
        var copied = false
        while (part.hasNext) {
          val f = part.next()
          if (f.getFileName.toString.startsWith("part-")
            && f.getFileName.toString.endsWith(".parquet")) {
            Files.copy(f, src.resolve(gen + ".parquet"))
            copied = true
          }
        }
        require(copied, s"no part file staged for generation $gen")
      }

      // The FILE sink (not memory) is the sink that supports checkpoint
      // recovery — its _spark_metadata manifest plus the source offsets in
      // `ckpt` are exactly the production exactly-once mechanism.
      val out = tmp.resolve("out")
      def drain(): Long = {
        val q = s.readStream.schema(docs.schema)
          .option("pathGlobFilter", "*.parquet")
          .parquet(src.toString)
          .writeStream.format("parquet").outputMode("append")
          .option("path", out.toString)
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try { q.awaitTermination(); s.read.parquet(out.toString).count() }
        finally { try { if (q.isActive) q.stop() } catch { case _: Exception => } }
      }

      publish("g1", col("doc_id") % 2 === 0)
      val n1 = drain()
      publish("g2", col("doc_id") % 2 === 1)
      val nAll = drain()
      import s.implicits._
      Seq((n1, nAll - n1)).toDF("n_first", "n_second")
    })

  /** #30f BMP binary columns: payloads from the JDK's OWN BMP encoder
    * (24-bit bottom-up), parsed back by
    * [[Multimodal.decodeBmpMeta]]'s file-header + BITMAPINFOHEADER
    * walk — signed little-endian dims (negative height = top-down),
    * bits-per-pixel from the DIB header. */
  def multimodalBmp(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractBmpMeta(
        Multimodal.syntheticBmps(Tables.documents(s, dir), "doc_id"))
      .toDF()
      .select("doc_id", "format", "width", "height", "bpp", "top_down")
      .orderBy("doc_id")

  /** #29r streaming CEP pattern match
    * ([[graft.streaming.PatternStream]]): signup → first purchase
    * within one hour per user, matched statefully with
    * `flatMapGroupsWithState` + event-time timeouts and emitted
    * exactly once when the watermark freezes the signup's window. The
    * oracle applies the identical final-watermark cutoff to a batch
    * self-join. */
  def streamPattern(s: SparkSession, dir: String): DataFrame =
    graft.streaming.PatternStream.runBatchEquivalent(s, dir)
      .orderBy("user_id", "signup_ts_us")

  /** #29s three-stage streaming funnel (signup → view → purchase, each
    * within 1 h): [[graft.streaming.FunnelStream]]'s stateful chain
    * matcher drained through the micro-batch harness; the oracle
    * replays the identical freeze-at-watermark contract in SQL. */
  def streamFunnel(s: SparkSession, dir: String): DataFrame =
    graft.streaming.FunnelStream.runBatchEquivalent(s, dir)
      .orderBy("user_id", "signup_ts_us")

  /** #30f WBMP binary columns: WAP-237 uintvar header decode of
    * JDK-encoder streams (dims past 127 so multi-octet uintvars
    * occur); expected fields are id-arithmetic in the oracle. */
  def multimodalWbmp(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractWbmpMeta(
        Multimodal.syntheticWbmps(Tables.documents(s, dir), "doc_id"))
      .toDF()
      .select("doc_id", "format", "width", "height", "header_bytes", "n_bytes")
      .orderBy("doc_id")

  /** #30g AIFF binary columns: big-endian IFF chunk walk with the
    * 80-bit extended-float sample-rate decode (exact Long shift),
    * against the JDK sound stack's own encoder. */
  def multimodalAiff(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractAiffMeta(
        Multimodal.syntheticAiffs(Tables.documents(s, dir), "doc_id"))
      .toDF()
      .select("doc_id", "format", "sample_rate", "n_channels",
        "bits_per_sample", "n_frames", "duration_us")
      .orderBy("doc_id")

  /** #30h MIDI binary columns: SMF header decode + MTrk chunk-walk
    * verification of the JDK MIDI writer's type-1 files. */
  def multimodalMidi(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractMidiMeta(
        Multimodal.syntheticMidis(Tables.documents(s, dir), "doc_id"))
      .toDF()
      .select("doc_id", "format", "midi_format", "n_tracks", "division",
        "n_mtrk", "n_bytes")
      .orderBy("doc_id")

  /** #29t streaming log₂-bucket value histogram
    * ([[EventStream.logbinAgg]]): the mergeable quantile sketch live,
    * hash-checked against the batch bucket recomputation. */
  def streamLogbin(s: SparkSession, dir: String): DataFrame =
    EventStream.runLogbinBatchEquivalent(s, dir)
      .orderBy("window_start", "event_type", "bucket")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_funnel"     -> (streamFunnel _),
    "stream_logbin"     -> (streamLogbin _),
    "multimodal_midi"   -> (multimodalMidi _),
    "multimodal_wbmp"   -> (multimodalWbmp _),
    "multimodal_aiff"   -> (multimodalAiff _),
    "multimodal_bmp"    -> (multimodalBmp _),
    "stream_pattern"    -> (streamPattern _),
    "stream_checkpoint" -> (streamCheckpoint _),
    "stream_sliding"      -> (streamSliding _),
    "stream_clean"        -> (streamClean _),
    "stream_dedup"        -> (streamDedup _),
    "stream_upsert"       -> (streamUpsert _),
    "stream_distinct"     -> (streamDistinct _),
    "stream_topk"         -> (streamTopk _),
    "stream_drift"        -> (streamDrift _),
    "stream_session"      -> (streamSession _),
    "session_paths"       -> (sessionPaths _),
    "session_ngrams"      -> (sessionNgrams _),
    "stream_join"         -> (streamJoin _),
    "stream_outer_join"   -> (streamOuterJoin _),
    "stream_enrich"       -> (streamEnrich _),
    "stream_window_agg"   -> (streamWindowAgg _),
    "stream_cm_sketch"    -> (streamCmSketch _),
    "stream_merkle"       -> (streamMerkle _),
    "stream_ohlc"         -> (streamOhlc _),
    "stream_session_window" -> (streamSessionWindow _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_gif"      -> (multimodalGif _),
    "multimodal_tiff"     -> (multimodalTiff _),
    "interval_intersect"  -> (intervalIntersect _),
    "multimodal_audio"    -> (multimodalAudio _),
    "multimodal_video"    -> (multimodalVideo _),
    "sessionize"          -> (sessionize _),
  )

  val oracles: Map[String, String] = Map(
    // Same freeze-at-watermark contract as the engine: a signup's
    // chain emits iff signup + 2h < wm, with the earliest in-window
    // view then the earliest purchase in THAT view's window.
    "stream_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_type FROM events
        |  WHERE event_type IN ('signup', 'view', 'purchase')
        |), wm AS (
        |  SELECT (max(tsu) // 1000 - 3600000) * 1000 AS wm_us FROM e
        |), sg AS (
        |  SELECT DISTINCT user_id, tsu AS s FROM e WHERE event_type = 'signup'
        |), closed AS (
        |  SELECT user_id, s FROM sg CROSS JOIN wm WHERE s + 7200000000 < wm_us
        |), v AS (
        |  SELECT c.user_id, c.s, min(e.tsu) AS v
        |  FROM closed c JOIN e ON e.user_id = c.user_id
        |    AND e.event_type = 'view' AND e.tsu > c.s AND e.tsu <= c.s + 3600000000
        |  GROUP BY 1, 2
        |), p AS (
        |  SELECT v.user_id, v.s, v.v, min(e.tsu) AS p
        |  FROM v JOIN e ON e.user_id = v.user_id
        |    AND e.event_type = 'purchase' AND e.tsu > v.v AND e.tsu <= v.v + 3600000000
        |  GROUP BY 1, 2, 3
        |)
        |SELECT user_id, s AS signup_ts_us, v AS view_ts_us, p AS purchase_ts_us,
        |  p - s AS total_latency_us
        |FROM p ORDER BY user_id, signup_ts_us""".stripMargin,
    // Watermark over the FILTERED (signup/purchase) stream — the engine
    // filters before withWatermark; a signup emits iff its 1-hour match
    // window closed under that watermark and an in-window purchase
    // exists (earliest wins; duplicate signup instants collapse).
    "stream_pattern" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_type FROM events
        |  WHERE event_type IN ('signup', 'purchase')
        |), wm AS (
        |  SELECT (max(tsu) // 1000 - 3600000) * 1000 AS wm_us FROM e
        |), s AS (
        |  SELECT DISTINCT user_id, tsu AS s_us FROM e
        |  WHERE event_type = 'signup'
        |), p AS (
        |  SELECT user_id, tsu AS p_us FROM e WHERE event_type = 'purchase'
        |)
        |SELECT s.user_id, s.s_us AS signup_ts_us,
        |  min(p.p_us) AS purchase_ts_us,
        |  min(p.p_us) - s.s_us AS latency_us
        |FROM s JOIN p ON p.user_id = s.user_id AND p.p_us > s.s_us
        |  AND p.p_us <= s.s_us + 3600000000
        |WHERE s.s_us + 3600000000 < (SELECT wm_us FROM wm)
        |GROUP BY s.user_id, s.s_us
        |ORDER BY s.user_id, s.s_us""".stripMargin,
    // Drain 1 = generation 1 (evens); drain 2, restarted from the same
    // checkpoint, must carry ONLY generation 2 (odds) — exactly-once.
    "stream_checkpoint" ->
      """SELECT
        |  sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_first,
        |  sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_second
        |FROM documents""".stripMargin,
    // Each event expands to its two 30-min-grid window starts.
    "stream_sliding" ->
      """WITH g AS (
        |  SELECT event_type, value,
        |    (epoch_us(ts) // 1800000000) * 1800 AS s1
        |  FROM events
        |), w AS (
        |  SELECT event_type, value, unnest([s1, s1 - 1800]) AS window_start
        |  FROM g
        |)
        |SELECT window_start::BIGINT AS window_start, event_type,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // The stream ingests documents ∪ documents through gate+dedup; the
    // drained rows are the gated distinct corpus, aggregated per lang.
    "stream_clean" ->
      """WITH scored AS (
        |  SELECT lang,
        |    len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
        |    round((
        |      least(greatest(length(text),1) / 200.0, 1.0)
        |    + greatest(1.0 - 4.0 * len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
        |          / greatest(length(text),1), 0.0)
        |    + least(5.0 * len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that|for)\b'))
        |          / greatest(len(regexp_extract_all(text, '\S+')),1), 1.0)
        |    ) / 3.0, 6) AS q
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs, round(avg(q), 6) AS avg_quality
        |FROM scored WHERE n_ws_tokens >= 30 AND q >= 0.65
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // One row per distinct normalized content (not per doc_id): robust
    // to the generator ever planting an intra-corpus exact duplicate.
    "stream_distinct" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start,
        |  event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  true AS distinct_ok
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    "stream_upsert" ->
      """SELECT doc_id, (doc_id + 3601) * 1000000 AS ver_us,
        |  (n_chars + 1000)::DOUBLE AS latest_value
        |FROM documents ORDER BY doc_id""".stripMargin,
    "stream_dedup" ->
      """SELECT min(doc_id) AS doc_id, fp_md5, 1::BIGINT AS n_kept
        |FROM (
        |  SELECT doc_id,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp_md5
        |  FROM documents)
        |GROUP BY fp_md5 ORDER BY doc_id""".stripMargin,
    // Matched pairs emit unconditionally; null rows only for views
    // whose window closed below the frozen watermark (ms-truncated
    // max event time - 1h), mirroring outer-state eviction.
    "stream_outer_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
        |), v AS (
        |  SELECT event_id AS view_id, user_id, tsu AS v_ts
        |  FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id, tsu AS p_ts
        |  FROM e WHERE event_type = 'purchase'
        |), wm AS (
        |  -- global watermark = min over the two sides' (ms-truncated
        |  -- max − 1h); outer state evicts at wm − 30min − 1ms (the
        |  -- engine's strict-bound ms allowance, probe-calibrated).
        |  SELECT least((SELECT max(v_ts) FROM v), (SELECT max(p_ts) FROM p))
        |    // 1000 * 1000 - 3600000000 AS wm_us
        |), m AS (
        |  SELECT view_id, purchase_id FROM v JOIN p ON v.user_id = p.user_id
        |    AND p_ts >= v_ts AND p_ts <= v_ts + 1800000000
        |), un AS (
        |  SELECT v.view_id, NULL::BIGINT AS purchase_id
        |  FROM v CROSS JOIN wm
        |  WHERE v_ts <= wm_us - 1800001000
        |    AND NOT EXISTS (SELECT 1 FROM m WHERE m.view_id = v.view_id)
        |)
        |SELECT view_id, purchase_id FROM m
        |UNION ALL SELECT view_id, purchase_id FROM un
        |ORDER BY view_id, purchase_id""".stripMargin,
    "stream_join" ->
      """SELECT a.event_id AS view_id, b.event_id AS purchase_id
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND a.event_type = 'view' AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin,
    "stream_enrich" ->
      """SELECT c_nationkey, event_type, count(*) AS n_events,
        |  round(sum(value), 6) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY c_nationkey, event_type""".stripMargin,
    "stream_cm_sketch" ->
      """WITH t AS (
        |  SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start,
        |    user_id::VARCHAR AS item
        |  FROM events
        |), rows_ AS (SELECT unnest(generate_series(0, 3)) AS r)
        |SELECT t.window_start, rows_.r,
        |  ('0x' || substr(md5(rows_.r::VARCHAR || ':' || t.item), 1, 15))::BIGINT
        |    % 64 AS bucket,
        |  count(*) AS cnt
        |FROM t, rows_
        |GROUP BY 1, 2, 3 ORDER BY window_start, r, bucket""".stripMargin,
    "stream_window_agg" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start,
        |  event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // The generator's dims/format/size are arithmetic in doc_id (the
    // byte streams are 45-byte PNGs / 35-byte JPEGs); the Spark side
    // must recover them by actually parsing the bytes.
    "multimodal_features" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  (doc_id % 512) + 1 AS width,
        |  (doc_id % 384) + 1 AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 45 ELSE 35 END::BIGINT AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_video" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |      ELSE 90000 END AS ts,
        |    (doc_id % 500 + 1) * 100 AS dur,
        |    doc_id % 640 + 16 AS w, doc_id % 360 + 16 AS h,
        |    doc_id % 2 + 1 AS n
        |  FROM documents
        |)
        |SELECT doc_id, 'mp4' AS format,
        |  (dur * 1000000) // ts AS duration_us,
        |  w::BIGINT AS width, h::BIGINT AS height, n::BIGINT AS n_tracks,
        |  (140 + 100 * n)::BIGINT AS n_bytes
        |FROM p ORDER BY doc_id""".stripMargin,
    "multimodal_audio" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 22050 ELSE 44100 END AS rate,
        |    doc_id % 2 + 1 AS ch,
        |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
        |    doc_id % 100 + 1 AS frames
        |  FROM documents
        |)
        |SELECT doc_id, 'wav' AS format, rate::BIGINT AS sample_rate,
        |  ch::BIGINT AS n_channels, bits::BIGINT AS bits_per_sample,
        |  frames::BIGINT AS n_frames,
        |  (frames * 1000000) // rate AS duration_us,
        |  (44 + frames * ch * bits / 8)::BIGINT AS n_bytes
        |FROM p ORDER BY doc_id""".stripMargin,
    // All-batch mirror of the streaming binned-PSI monitor; the
    // reference bounds are SQL scalars where Spark holds two driver
    // doubles — identical IEEE arithmetic either way.
    "stream_drift" ->
      """WITH r AS (
        |  SELECT min(value) AS mn, max(value) AS mx, count(*) AS nref FROM events
        |), b AS (
        |  SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start,
        |    least(floor((value - (SELECT mn FROM r)) * 10
        |      / ((SELECT mx FROM r) - (SELECT mn FROM r))), 9)::BIGINT AS bin
        |  FROM events
        |), binned AS (
        |  SELECT window_start, bin, count(*) AS cnt FROM b GROUP BY 1, 2
        |), ref AS (
        |  SELECT least(floor((value - (SELECT mn FROM r)) * 10
        |      / ((SELECT mx FROM r) - (SELECT mn FROM r))), 9)::BIGINT AS bin,
        |    count(*) AS ref_cnt
        |  FROM events GROUP BY 1
        |), tot AS (
        |  SELECT window_start, sum(cnt) AS n_events FROM binned GROUP BY 1
        |), grid AS (
        |  SELECT window_start, n_events, unnest(range(0, 10)) AS bin FROM tot
        |), sm AS (
        |  SELECT g.window_start, g.n_events,
        |    (coalesce(bi.cnt, 0) + 0.5) / (g.n_events + 5.0) AS pw,
        |    (coalesce(rf.ref_cnt, 0) + 0.5) / ((SELECT nref FROM r) + 5.0) AS pr
        |  FROM grid g
        |  LEFT JOIN binned bi ON bi.window_start = g.window_start AND bi.bin = g.bin
        |  LEFT JOIN ref rf ON rf.bin = g.bin
        |)
        |SELECT window_start, max(n_events)::BIGINT AS n_events,
        |  round(sum((pw - pr) * ln(pw / pr)), 6) AS psi
        |FROM sm GROUP BY window_start ORDER BY window_start""".stripMargin,
    "stream_topk" ->
      """WITH c AS (
        |  SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start,
        |    event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY window_start
        |    ORDER BY n_events DESC, event_type) AS rk
        |  FROM c
        |)
        |SELECT window_start, event_type, n_events, rk
        |FROM r WHERE rk <= 3 ORDER BY window_start, rk""".stripMargin,
    // Session assignment CTEs mirror the `sessionize` oracle below; the
    // row_number gate bounds each path at 20 steps on both sides.
    "session_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events
        |), f AS (
        |  SELECT *, CASE WHEN tsu - lag(tsu) OVER w > 1800000000
        |    OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |), s AS (
        |  SELECT *, (sum(news) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
        |  FROM f
        |), r AS (
        |  SELECT user_id, session_idx, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_idx
        |      ORDER BY tsu, event_id) AS rn
        |  FROM s
        |), p AS (
        |  SELECT user_id, session_idx,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 20 GROUP BY 1, 2
        |)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // Identical session assignment to the `sessionize` oracle, then the
    // engine's closure predicate: watermark = (max ts ms) − 1 h, and a
    // session emits iff end + gap < watermark — all integer µs math.
    "stream_session" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, value FROM events
        |), f AS (
        |  SELECT *, CASE WHEN tsu - lag(tsu) OVER w > 1800000000
        |    OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |), s AS (
        |  SELECT *, (sum(news) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
        |  FROM f
        |), g AS (
        |  SELECT user_id,
        |    min(tsu) AS session_start_us, max(tsu) AS session_end_us,
        |    count(*) AS n_events, round(sum(value), 6) AS sum_value
        |  FROM s GROUP BY user_id, session_idx
        |), wm AS (
        |  SELECT (max(tsu) // 1000 - 3600000) * 1000 AS wm_us FROM e
        |)
        |SELECT user_id, session_start_us, session_end_us, n_events, sum_value
        |FROM g WHERE session_end_us + 1800000000 < (SELECT wm_us FROM wm)
        |ORDER BY user_id, session_start_us""".stripMargin,
    // Same gap-sessionization CTE as `sessionize`; lag windows inside
    // (user, session) emit the bigram/trigram stream, top-10 per length
    // with the (n desc, gram) tiebreak.
    "session_ngrams" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events
        |), f AS (
        |  SELECT *, CASE WHEN tsu - lag(tsu) OVER w > 1800000000
        |    OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |), s AS (
        |  SELECT *, (sum(news) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
        |  FROM f
        |), lagged AS (
        |  SELECT event_type,
        |    lag(event_type, 1) OVER sw AS p1,
        |    lag(event_type, 2) OVER sw AS p2
        |  FROM s WINDOW sw AS (PARTITION BY user_id, session_idx ORDER BY tsu, event_id)
        |), grams AS (
        |  SELECT 2::BIGINT AS len, p1 || '>' || event_type AS gram
        |  FROM lagged WHERE p1 IS NOT NULL
        |  UNION ALL
        |  SELECT 3::BIGINT AS len, p2 || '>' || p1 || '>' || event_type AS gram
        |  FROM lagged WHERE p2 IS NOT NULL
        |), counted AS (
        |  SELECT len, gram, count(*)::BIGINT AS n FROM grams GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY len ORDER BY n DESC, gram)::BIGINT AS rk
        |  FROM counted
        |)
        |SELECT len, gram, n, rk FROM ranked WHERE rk <= 10
        |ORDER BY len, rk""".stripMargin,
    // JDK encoder writes BITMAPINFOHEADER 24bpp bottom-up; the decoded
    // fields are id arithmetic.
    // Same exact bin(v)-length buckets over tumbling hours; complete
    // mode emits every window.
    "stream_logbin" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start, event_type,
        |  length(bin(CAST(round(value*1e6) AS BIGINT))) - 1 AS bucket,
        |  count(*)::BIGINT AS c
        |FROM events WHERE CAST(round(value*1e6) AS BIGINT) >= 1
        |GROUP BY 1, 2, 3 ORDER BY window_start, event_type, bucket""".stripMargin,
    "multimodal_midi" ->
      """SELECT doc_id, 'midi' AS format, 1::BIGINT AS midi_format,
        |  (doc_id % 3) + 1 AS n_tracks,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 96 WHEN 1 THEN 192
        |    WHEN 2 THEN 384 ELSE 480 END AS BIGINT) AS division,
        |  (doc_id % 3) + 1 AS n_mtrk,
        |  14 + 16*((doc_id % 3) + 1) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_wbmp" ->
      """SELECT doc_id, 'wbmp' AS format,
        |  (doc_id % 200) + 1 AS width, (doc_id % 150) + 1 AS height,
        |  2 + (CASE WHEN (doc_id % 200) + 1 >= 128 THEN 2 ELSE 1 END)
        |    + (CASE WHEN (doc_id % 150) + 1 >= 128 THEN 2 ELSE 1 END)
        |    AS header_bytes,
        |  2 + (CASE WHEN (doc_id % 200) + 1 >= 128 THEN 2 ELSE 1 END)
        |    + (CASE WHEN (doc_id % 150) + 1 >= 128 THEN 2 ELSE 1 END)
        |    + (((doc_id % 200) + 1 + 7) // 8) * ((doc_id % 150) + 1)
        |    AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_aiff" ->
      """SELECT doc_id, 'aiff' AS format,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |    WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
        |  (doc_id % 2) + 1 AS n_channels,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS BIGINT)
        |    AS bits_per_sample,
        |  (doc_id % 100) + 1 AS n_frames,
        |  ((doc_id % 100) + 1) * 1000000
        |    // CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS duration_us
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_bmp" ->
      """SELECT doc_id, 'bmp' AS format,
        |  (doc_id % 96) + 1 AS width, (doc_id % 72) + 1 AS height,
        |  24::BIGINT AS bpp, false AS top_down
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_gif" ->
      """SELECT doc_id, 'gif' AS format,
        |  (doc_id % 64) + 1 AS width, (doc_id % 48) + 1 AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    // session_window semantics: [t, t+gap) interval union (a gap of
    // exactly 30 min SPLITS), end = last event + gap, appended once the
    // window end is below the final watermark (ms-truncated max - 1h).
    "stream_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, value FROM events
        |), f AS (
        |  SELECT *, CASE WHEN tsu - lag(tsu) OVER w >= 1800000000
        |    OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |), s AS (
        |  SELECT *, (sum(news) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
        |  FROM f
        |), g AS (
        |  SELECT user_id,
        |    min(tsu) AS start_us, max(tsu) + 1800000000 AS end_us,
        |    count(*) AS n_events, round(sum(value), 6) AS sum_value
        |  FROM s GROUP BY user_id, session_idx
        |), wm AS (
        |  SELECT (max(tsu) // 1000 - 3600000) * 1000 AS wm_us FROM e
        |)
        |SELECT user_id, start_us, end_us, n_events, sum_value
        |FROM g WHERE end_us < (SELECT wm_us FROM wm)
        |ORDER BY user_id, start_us""".stripMargin,
    // The streaming candlestick must equal the batch derivation exactly
    // (open/close are values at the min/max (ts, id) of the hour).
    "stream_ohlc" ->
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
    // Incremental XOR digests must equal a full batch recompute of the
    // same leaves (here stated directly over the corpus).
    "stream_merkle" ->
      """WITH base AS (
        |  SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16 AS bucket,
        |    ('0x' || substr(md5(concat_ws('|',
        |      coalesce(doc_id::VARCHAR, '\N'), coalesce(text, '\N'),
        |      coalesce(lang, '\N'), coalesce(source, '\N'),
        |      coalesce(n_chars::VARCHAR, '\N'))), 1, 15))::BIGINT AS hv
        |  FROM documents
        |)
        |SELECT bucket, count(*) AS n_rows, bit_xor(hv) AS checksum
        |FROM base GROUP BY 1 ORDER BY bucket""".stripMargin,
    // The builder writes dims/orientation as doc_id arithmetic and the
    // byte order by parity; the IFD walk must reproduce all of it.
    "multimodal_tiff" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  (doc_id % 512) + 1 AS width, (doc_id % 384) + 1 AS height,
        |  (doc_id % 8) + 1 AS orientation
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same session CTE as `sessionize`, intersected with the per-user
    // active-day grid; sessions are closed intervals → end+1 half-open.
    "interval_intersect" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events
        |), f AS (
        |  SELECT *, CASE WHEN tsu - lag(tsu) OVER w > 1800000000
        |    OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |), s AS (
        |  SELECT *, (sum(news) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
        |  FROM f
        |), sess AS (
        |  SELECT user_id, session_idx,
        |    min(tsu) AS s_start, max(tsu) + 1 AS s_end
        |  FROM s GROUP BY 1, 2
        |), days AS (
        |  SELECT DISTINCT user_id,
        |    (tsu // 86400000000) * 86400000000 AS d_start
        |  FROM e
        |)
        |SELECT sess.user_id, sess.session_idx, days.d_start AS day_us,
        |  greatest(sess.s_start, days.d_start) AS o_start,
        |  least(sess.s_end, days.d_start + 86400000000) AS o_end,
        |  least(sess.s_end, days.d_start + 86400000000)
        |    - greatest(sess.s_start, days.d_start) AS dur_us
        |FROM sess JOIN days ON sess.user_id = days.user_id
        |WHERE sess.s_start < days.d_start + 86400000000
        |  AND days.d_start < sess.s_end
        |ORDER BY sess.user_id, session_idx, day_us""".stripMargin,
    "sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, value FROM events
        |), f AS (
        |  SELECT *, CASE WHEN tsu - lag(tsu) OVER w > 1800000000
        |    OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |), s AS (
        |  SELECT *, (sum(news) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
        |  FROM f
        |)
        |SELECT user_id, session_idx,
        |  min(tsu) AS session_start_us, max(tsu) AS session_end_us,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
  )
}
