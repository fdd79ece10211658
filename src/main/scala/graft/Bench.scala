package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Hygiene: a warm-up query runs first (untimed) so JVM/session/codegen
  * startup doesn't land on the first measured query; shared-input
  * materializations are timed as explicit `_mat_*` entries so their cost
  * stops landing on whichever consumer runs first alphabetically;
  * results sink into a `noop`-format write so the full plan executes
  * without Catalyst pruning the final projection (a bare `.count()`
  * would); failures are reported per query in an `errors` map instead of
  * masquerading as wall-time.
  *
  * Replication protocol (round 15): every entry whose first-pass time
  * exceeds [[Bench.replicateOverSec]], every documented jitter-family
  * entry, every `stream_*` drain, and every `_mat_*` materialization gets
  * a SECOND sample and publishes MIN(run1, run2). The second pass runs on
  * `spark.newSession()` — query-layer results are memoized per session
  * ([[graft.queries.Memo]]), so a fresh session is a cold epoch that makes
  * the rerun re-execute the full plan (fit, index build, stream drain)
  * instead of reading a cache. This is what lets the memoized iterative
  * family (als_*, cmf_*, fit_quality, ann_index_lifecycle) publish a real
  * MIN: round 14 published a single contended 71.6 s sample for
  * als_nonnegative that measured 12.6 s isolated. Both samples survive in
  * `replicated` inside the durable artifact, so which entries ran the
  * two-sample protocol (vs a single sample) is machine-readable — the
  * mixed protocol is marked, per the round-14 ADVICE. Mats are re-run on
  * the fresh session BEFORE the heavy consumers so a consumer's second
  * sample times the same increment as its first. A failed second pass is
  * recorded in `errors` under `<name>_rerun` (the first-pass time still
  * publishes) instead of being silently discarded.
  */
object Bench {

  /** First-pass wall-time above which an entry earns a second sample. */
  val replicateOverSec = 10.0

  /** Shared-input materializations, timed explicitly: these memoized
    * tables/models (`Tables.checkpoint` + a per-(session, dir)
    * `queries.Memo`) are consumed by several queries each; without these
    * entries their cost lands on the alphabetically-first consumer
    * (round 3: als_explicit recorded 25.4 s of which ~17 s was building
    * custPartRatings + the shared fit). Ordering is dependency order,
    * so each entry times only its own increment. Each body takes
    * (session, sfDir). */
  val mats: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "_mat_cust_part_ratings" ->
      ((s, d) => queries.CmfQueries.custPartRatings(s, d).count()),
    // Round 16: the capped co-rating table shared by slope_one /
    // cf_item_predict, and the threshold-independent LSH pair base
    // shared by the 0.35/0.4 similarity-graph queries — timed
    // explicitly so their cost stops landing on the alphabetically
    // first consumer.
    "_mat_corated" ->
      ((s, d) => queries.CmfQueries.coratedCapped(s, d).count()),
    "_mat_banded_pairs" ->
      ((s, d) => queries.DedupSimQueries.bandedCosinePairs(s, d, 0.35).count()),
    "_mat_ivf_index" ->
      ((s, d) => queries.DedupSimQueries.embIvfIndex(s, d).assigned.count()),
    "_mat_search_lists" ->
      ((s, d) => {
        queries.OpsQueries.rankedSearchList(s, d, "bm25").count()
        queries.OpsQueries.rankedSearchList(s, d, "tfidf").count()
      }),
    "_mat_explicit_model" ->
      ((s, d) => queries.CmfQueries.explicitModel(s, d)),
    "_mat_part_supp_pairs" ->
      ((s, d) => queries.CmfQueries.partSuppPairs(s, d).count()),
    "_mat_ngram_pairs" ->
      ((s, d) => queries.DedupSimQueries.ngramPairs(s, d).count()),
    "_mat_cluster_labels" ->
      ((s, d) => queries.DedupSimQueries.clusterLabels(s, d).count()),
    "_mat_span_grams" ->
      ((s, d) => queries.DedupSimQueries.spanGrams(s, d).count()),
    "_mat_cooc_pairs" ->
      ((s, d) => queries.OpsQueries.coocPairs(s, d).count()),
    // The two collective fits are memoized per (session, dir) and each
    // feeds two queries; without these entries the whole fit cost lands
    // on cmf_fit_predict / cmf_implicit (alphabetically-first consumers),
    // making those entries incomparable across rounds.
    "_mat_cmf_explicit" ->
      ((s, d) => queries.CmfQueries.cmfFitPredict(s, d).count()),
    "_mat_cmf_implicit" ->
      ((s, d) => queries.CmfQueries.cmfImplicit(s, d).count()),
    "_mat_pq_index" ->
      ((s, d) => queries.DedupSimQueries.pqState(s, d)._2.count()),
    "_mat_ivfpq_index" ->
      ((s, d) => queries.DedupSimQueries.ivfPqIndex(s, d).codedCells.count()),
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()

    def timed(body: => Unit): Either[String, Double] =
      try {
        val t0 = System.nanoTime()
        body
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }

    def runOnce(s: SparkSession, name: String): Either[String, Double] =
      timed(SparkEntry.queries(name)(s, sfDir)
        .write.format("noop").mode("overwrite").save())

    def runMats(s: SparkSession): Seq[(String, Either[String, Double])] =
      mats.map { case (n, body) => n -> timed(body(s, sfDir)) }

    // Warm-up: JVM, session state, parquet footers, JVM-wide codegen. Must
    // be a real query (asserted, so a rename can't silently turn the
    // warm-up into a no-op) but a cheap one that touches no shared cache
    // — the `_mat_*` entries below must observe cold caches.
    val warm = "q1_agg"
    require(SparkEntry.queries.contains(warm), s"warm-up query $warm missing")
    runOnce(spark, warm)

    val mats1 = runMats(spark)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val firstPass = names.map(n => n -> runOnce(spark, n))

    // Round-13 verdict item: single-sample wall-times on these entries
    // swung 3-6x across rounds on byte-unchanged code (host jitter, not
    // plan changes) — always replicated, plus the stream drains, whose
    // trigger latency is scheduler-noise-bound.
    val jitterFamily: Set[String] = Set(
      "ab_cuped", "weighted_median", "changepoint_binseg", "supplier_hhi",
      "cf_item_predict", "slope_one", "corpus_mix", "survival_km",
      "token_dice", "t_closeness", "dedup_simhash")
    val heavy: Set[String] = (mats1 ++ firstPass).collect {
      case (n, Right(t)) if t > replicateOverSec => n
    }.toSet
    def replicated(n: String): Boolean =
      jitterFamily(n) || n.startsWith("stream_") || heavy(n)

    // Epoch bump: a fresh session starts every `queries.Memo` entry cold,
    // so the second pass re-executes full plans (stream_checkpoint
    // included — its round-14 hard-coded exclusion existed only because
    // an in-SESSION rerun read its memo in ~20 ms). It reuses the JVM's
    // compiled classes (GraftSession), so a second sample pays no codegen.
    val spark2 = spark.newSession()
    graft.functions.register(spark2)
    runOnce(spark2, warm) // fresh session state: catalog, views, memos
    val mats2 = runMats(spark2).toMap
    val secondPass: Map[String, Either[String, Double]] = firstPass.collect {
      case (n, Right(_)) if replicated(n) => n -> runOnce(spark2, n)
    }.toMap

    def merge(pass1: Seq[(String, Either[String, Double])],
              pass2: Map[String, Either[String, Double]])
        : (Seq[(String, Either[String, Double])], // published entries
           Seq[(String, Double, Double)],         // both samples
           Seq[(String, String)]) = {             // rerun failures
      val both = Seq.newBuilder[(String, Double, Double)]
      val fails = Seq.newBuilder[(String, String)]
      val out = pass1.map {
        case (n, Right(t1)) =>
          pass2.get(n) match {
            case Some(Right(t2)) =>
              both += ((n, t1, t2)); n -> Right(math.min(t1, t2))
            case Some(Left(m)) =>
              fails += ((n + "_rerun", m)); n -> Right(t1)
            case None => n -> Right(t1)
          }
        case other => other
      }
      (out, both.result(), fails.result())
    }
    // Every mat has two samples (the second pass needs them rebuilt
    // anyway so heavy consumers time the same increment both passes) —
    // publish MIN uniformly there too.
    val (matsPub, matsBoth, matsFails) = merge(mats1, mats2)
    val (qsPub, qsBoth, qsFails) = merge(firstPass, secondPass)
    val results = matsPub ++ qsPub
    val replicatedSamples = matsBoth ++ qsBoth
    val rerunFails = matsFails ++ qsFails

    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                  case c if c < ' ' => " "; case c => c.toString }
    // Locale.ROOT: "%.3f" under a comma-decimal default locale would
    // print "1,234" and corrupt the JSON line.
    def fmt(t: Double): String = String.format(java.util.Locale.ROOT, "%.3f", t)
    val qs = results.collect { case (n, Right(t)) => s""""$n":${fmt(t)}""" }
      .mkString("{", ",", "}")
    val allErrs = results.collect { case (n, Left(m)) => (n, m) } ++ rerunFails
    val errs = allErrs.map { case (n, m) => s""""$n":"${esc(m)}"""" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, Right(t)) => t }.sum
    val repl = replicatedSamples
      .map { case (n, t1, t2) => s""""$n":[${fmt(t1)},${fmt(t2)}]""" }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"replicated":$repl,"errors":$errs,"sf":"$sfDir"}"""
    // Durable full artifact FIRST: the driver captures stdout through a
    // bounded (~4 KB) tail buffer, and the 200+-entry full line lost its
    // front two rounds running (BENCH_r07/r08 both came back
    // `parsed: null`). The repo file carries every per-query time.
    try
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_out.json"),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case e: java.io.IOException =>
        // Without the file the full per-query data would be lost entirely
        // (stdout only carries the compact line) — fall back to dumping the
        // full line on stderr so it survives somewhere.
        System.err.println(s"bench_out.json write failed: ${e.getMessage}")
        System.err.println(full)
    }
    // Stdout gets a line guaranteed to FIT the tail buffer: same schema,
    // but `queries` holds only the slowest entries (the ones a perf
    // review reads first) and `errors` is bounded too — round 9's 36
    // untruncated error strings (~7 KB) blew the ~4 KB buffer exactly
    // when the signal mattered most. Caps: 10 errors × 80 chars.
    val ok = results.collect { case (n, Right(t)) => (n, t) }
    val slowest = ok.sortBy(-_._2).take(25)
    val qsCompact = slowest.map { case (n, t) => s""""$n":${fmt(t)}""" }
      .mkString("{", ",", "}")
    val errsCompact = allErrs.take(10)
      .map { case (n, m) => s""""$n":"${esc(m.take(80))}"""" }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qsCompact,"queries_measured":${ok.length},"queries_shown":${slowest.length},"replicated_count":${replicatedSamples.length},"full":"bench_out.json","errors":$errsCompact,"errors_total":${allErrs.length},"sf":"$sfDir"}"""
    println(line)
    spark.stop()
  }
}
