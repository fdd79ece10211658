package graft.queries

import graft.Tables
import graft.ops.{BloomJoin, ChronoSplit, Chunking, Decontaminate, Dedup, LanguageModel, Packing, Sampling, Sketches, SkewJoin, TextAnalysis, Upsert}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver wiring for the ops pack: chronological split, text analysis,
  * exact dedup (SURVEY §2 #14, #18, #25–28). Every query here is
  * DuckDB-SQL-oracled; outputs are fully ordered and every computed column
  * is aliased identically on both sides.
  */
object OpsQueries {

  /** #14 chronological split: the 20% test slice of events by (ts, id). */
  def chronoSplit(s: SparkSession, dir: String): DataFrame = {
    val Seq(_, test) =
      ChronoSplit.split(Tables.events(s, dir), Seq(0.8, 0.2), "ts", "event_id")
    test.select("event_id", "user_id", "event_type").orderBy("event_id")
  }

  /** #25 token statistics per document. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val c = col("text")
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        length(c).as("len_chars"),
        TextAnalysis.wsTokenCount(c).as("n_ws_tokens"),
        TextAnalysis.bpeTokenCount(c).as("n_bpe_tokens"),
        TextAnalysis.punctCount(c).as("n_punct"))
      .orderBy("doc_id")
  }

  /** #26 quality score per document. */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), round(TextAnalysis.qualityScore(col("text")), 6).as("quality_score"))
      .orderBy("doc_id")

  /** #27 stopword-profile language ID. */
  def textLangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_id"))
      .orderBy("doc_id")

  /** #27b language-ID confusion matrix — the detector scored against
    * the corpus's labeled `lang` column: (true, predicted, n) cells
    * plus the per-true-language recall. The readout that says WHICH
    * languages the stopword profiles confuse before a mix built on
    * lang-ID quotas (corpus_mix) inherits the bias. */
  def langidConfusion(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .groupBy(col("lang").as("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("recall_bp", expr(
        "CASE WHEN lang_true = lang_pred THEN n * 10000 div " +
          "sum(n) over (partition by lang_true) ELSE NULL END"))
      .orderBy("lang_true", "lang_pred")
  }

  /** #27c Cohen's kappa of the lang-ID heuristic vs the labeled truth —
    * the chance-corrected single-number companion to
    * [[langidConfusion]]. All inputs stay exact integers (diagonal
    * count, row·column marginal products over the tiny confusion
    * cells); kappa = (po·N − pe) / (N² − pe) divides once at display.
    * Scale: one groupBy over documents to ≤|lang|² cells; everything
    * downstream is constant-size. */
  def langidKappa(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .groupBy(col("lang").as("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum("n").as("nt"))
    val po = cells.filter(col("lang_true") === col("lang_pred"))
      .agg(coalesce(sum("n"), lit(0L)).as("po_num"))
    val rows = cells.groupBy(col("lang_true").as("cls"))
      .agg(sum("n").as("rr"))
    val cols = cells.groupBy(col("lang_pred").as("cls"))
      .agg(sum("n").as("cc"))
    val pe = rows.join(cols, "cls")
      .agg(coalesce(sum(col("rr") * col("cc")), lit(0L)).as("pe_num"))
    tot.crossJoin(broadcast(po)).crossJoin(broadcast(pe))
      .select(col("nt").as("n_docs"),
        round(col("po_num") / col("nt"), 6).as("po"),
        round(col("pe_num") / (col("nt") * col("nt")), 6).as("pe"),
        round((col("po_num") * col("nt") - col("pe_num"))
          / (col("nt") * col("nt") - col("pe_num")), 6).as("kappa"))
  }

  /** #28 normalized 128-bit content fingerprint. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp_md5"))
      .orderBy("doc_id")

  /** #18 exact dedup. The test corpus is duplicate-free, so we dedup the
    * self-union — every content group must collapse to one row with
    * n_copies = 2 and the minimum id as representative. */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.exact(docs.unionAll(docs), "text", "doc_id")
      .select("content_md5", "doc_id", "n_copies")
      .orderBy("doc_id")
  }

  /** The shared mod-first multiplicative hash every arithmetic-oracle
    * sampling query mirrors in DuckDB: mod-first keeps the product
    * within 63 bits at any corpus size (Spark would silently wrap on
    * overflow while DuckDB's checked BIGINT multiply errors — mirrored
    * arithmetic must never overflow). Production callers would pass
    * xxhash64 instead. */
  private def arithHash(key: Column, seed: Long): Column =
    pmod(key, lit(1000000L)) * lit(2654435761L) + lit(seed)

  /** #32 deterministic hash slice: the [0, 0.25) sample of events by
    * the [[arithHash]] multiplicative hash of event_id. */
  def sampleHash(s: SparkSession, dir: String): DataFrame = {
    val h = arithHash(col("event_id"), 42L)
    Sampling.hashSample(Tables.events(s, dir), h, 0.25)
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")
  }

  /** #33 stratified quota: 10 customers per nation, drawn by the same
    * multiplicative hash (custkey tiebreak). */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val h = pmod(arithHash(col("c_custkey"), 7L), lit(Sampling.Buckets))
    Sampling.stratifiedQuota(
      Tables.customer(s, dir),
      Seq(col("c_nationkey")), Seq(h, col("c_custkey")), 10)
      .select("c_custkey", "c_nationkey")
      .orderBy("c_nationkey", "c_custkey")
  }

  /** #37s mutual-information dependence matrix
    * ([[graft.ops.InfoTheory.mutualInfo]]): MI / marginal entropies /
    * NMI for two column pairs — language×source on documents and
    * type×hour-of-day on events — the "how strongly are these columns
    * coupled" screen in nats next to [[corpusChi2]]'s yes/no test.
    * Cell and entropy terms round to integer nano-nats before exact
    * summation. */
  def miMatrix(s: SparkSession, dir: String): DataFrame = {
    val d = graft.ops.InfoTheory.mutualInfo(
      Tables.documents(s, dir), "lang", "source", "lang_x_source")
    val e = graft.ops.InfoTheory.mutualInfo(
      Tables.events(s, dir)
        .withColumn("hod", expr("(unix_micros(ts) div 3600000000) % 24")),
      "event_type", "hod", "type_x_hod")
    d.unionAll(e).orderBy("pair")
  }

  /** #33d Neyman variance-optimal stratified sample
    * ([[Sampling.neymanQuota]]): a 500-row customer budget allocated
    * across nations ∝ N_h·σ_h of exact account-balance cents — big
    * AND volatile strata oversample, the fixed-budget minimum-variance
    * design vs [[sampleStratified]]'s flat quotas. The per-stratum
    * weight is √(n·Σv²−(Σv)²) of exact decimal moments; member
    * election is the same arithmetic-hash rank as the other samplers. */
  def sampleNeyman(s: SparkSession, dir: String): DataFrame = {
    val h = pmod(arithHash(col("c_custkey"), 7L), lit(Sampling.Buckets))
    Sampling.neymanQuota(
        Tables.customer(s, dir)
          .withColumn("cents", round(col("c_acctbal") * 100, 0).cast("long")),
        "c_nationkey", col("cents"), 500, Seq(h, col("c_custkey")))
      .select("c_custkey", "c_nationkey", "quota")
      .orderBy("c_nationkey", "c_custkey")
  }

  /** #34 token-budget packing: documents into ~2000-token bins across 8
    * hash buckets (arithmetic bucket hash so the oracle mirrors it). */
  def packBudget(s: SparkSession, dir: String): DataFrame = {
    val h = arithHash(col("doc_id"), 3L)
    Packing.packByBudget(Tables.documents(s, dir), "doc_id",
      TextAnalysis.wsTokenCount(col("text")), 2000L, h, 8)
      .orderBy("doc_id")
  }

  /** #35 eval-set decontamination: a planted "benchmark" of substring
    * slices from every 25th document; the leaked sources (and any doc
    * sharing a 5-gram with them) must be flagged with their hit counts. */
  def decontamScan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select(expr("substring(text, 10, 120)").as("text"))
    Decontaminate.contaminated(docs, "text", "doc_id", evalSet, "text", n = 5)
      .orderBy("doc_id")
  }

  /** #35c Bloom-prefiltered decontamination: the same planted benchmark
    * as [[decontamScan]], with the corpus shingle stream gated by a
    * broadcast Bloom filter before the exact verify. No false negatives
    * + exact FP removal ⇒ the output must be IDENTICAL to the exact
    * scan's, which is precisely what sharing its oracle checks. */
  def decontamBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select(expr("substring(text, 10, 120)").as("text"))
    Decontaminate.contaminatedBloom(docs, "text", "doc_id", evalSet, "text", n = 5)
      .orderBy("doc_id")
  }

  /** #44b content-defined chunking: md5-gated boundaries (k = 40,
    * prefix "0" ⇒ ~16-char expected chunks on the ~600-char docs), the
    * dedup-friendly splitter. Boundaries are pure content functions, so
    * the oracle reproduces every cut, length, and chunk fingerprint. */
  def chunkCdc(s: SparkSession, dir: String): DataFrame =
    Chunking.contentDefined(Tables.documents(s, dir), "text", "doc_id",
        k = 40, selPrefix = "0")
      .orderBy("doc_id", "chunk_idx")

  /** #36 composed corpus-cleaning pipeline — the filter chain a real
    * training-data build runs end-to-end, every stage individually
    * oracled elsewhere: token-count gate → quality gate → eval-set
    * decontamination. All narrow maps plus one hash-keyed shingle join;
    * nothing in the chain breaks pushdown on the parquet scan. */
  def corpusClean(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // Materialized once: the gated corpus feeds both the contamination
    // shingle scan and the anti-join's left side, and the regex-heavy
    // feature scoring is the query's dominant cost.
    // The regex-heavy feature scoring is CPU-dense narrow work on the
    // single-split scan — spread first (fanOut: no-op wide).
    val gated = Tables.fanOut(docs)
      .withColumn("n_ws_tokens", TextAnalysis.wsTokenCount(col("text")))
      .withColumn("quality_score", round(TextAnalysis.qualityScore(col("text")), 6))
      .filter(col("n_ws_tokens") >= 30 && col("quality_score") >= 0.65)
      .transform(Tables.checkpoint)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select(expr("substring(text, 10, 120)").as("text"))
    Decontaminate.removeContaminated(gated, "text", "doc_id", evalSet, "text", n = 5)
      .select("doc_id", "n_ws_tokens", "quality_score")
      .orderBy("doc_id")
  }

  /** #38 line-repetition ratio (Gopher-style): even doc_ids get their
    * first 40 chars planted twice as duplicate lines (ratio 1/3); odd
    * ids stay single-line (ratio 0). */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val planted = when(pmod(col("doc_id"), lit(2)) === 0,
      concat(expr("substring(text, 1, 40)"), lit("\n"),
        expr("substring(text, 1, 40)"), lit("\n"), expr("substring(text, 41)")))
      .otherwise(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        round(TextAnalysis.repetitionRatio(planted), 6).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** #39 PII redaction over planted emails/IPs/phone runs. */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com at 192.168.0.1 or call 0012345678."))
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.redactPii(planted).as("redacted"))
      .orderBy("doc_id")
  }

  /** #41 temperature-weighted mixture sample: per-nation quotas ∝
    * ⌊√count⌋ (the T=2 re-weighting a multilingual/domain mix uses),
    * rows drawn by the mod-first arithmetic hash. */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val h = pmod(arithHash(col("c_custkey"), 11L), lit(Sampling.Buckets))
    Sampling.temperatureQuota(Tables.customer(s, dir), Seq("c_nationkey"),
      Seq(h, col("c_custkey")), 300L)
      .select("c_custkey", "c_nationkey")
      .orderBy("c_nationkey", "c_custkey")
  }

  /** #40 BM25 top-5 terms per document — corpus-weighted keyword
    * extraction (idf from the full corpus, saturated tf per doc). */
  def textBm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopTerms(Tables.documents(s, dir), "text", "doc_id", k = 5)
      .orderBy("doc_id", "rank")

  /** #37b sketch profile audit: HLL distinct + GK approximate percentiles
    * per event_type, hash-checked against their exact counterparts. The
    * booleans assert the sketch error bounds (HLL within 5% relative; the
    * approximate p50/p90 inside the exact [p45,p55]/[p85,p95] bands), so
    * a regression in either sketch path flips the hash. The exact side is
    * gate-scale audit machinery; at 100 TB only the sketch side runs. */
  def sketchProfile(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val approx = Sketches.groupProfile(ev, "event_type", "user_id", "value", Seq(0.5, 0.9))
    val exact = Sketches.groupProfileExact(
      ev, "event_type", "user_id", "value", Seq(0.45, 0.55, 0.85, 0.95))
    approx.join(exact, "event_type")
      .select(
        col("event_type"), col("n_rows"),
        (abs(col("approx_distinct") - col("exact_distinct"))
          <= col("exact_distinct") * 0.05).as("distinct_ok"),
        col("approx_percentiles")(0)
          .between(col("exact_percentiles")(0), col("exact_percentiles")(1)).as("p50_ok"),
        col("approx_percentiles")(1)
          .between(col("exact_percentiles")(2), col("exact_percentiles")(3)).as("p90_ok"))
      .orderBy("event_type")
  }

  /** #7d skew-salted fact⋈dim join: the manual-salting pattern for
    * power-law join keys, driver-checked for exact equality with the
    * plain join (the oracle IS the unsalted join). The fact side is
    * filtered at the scan (pushdown), the dim side is replicated
    * `salts`× so the hot key's rows spread over `salts` reducers. */
  def skewJoin(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_suppkey")
    val dim = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    SkewJoin.saltedJoin(facts, dim, "l_suppkey", salts = 8)
      .select("l_orderkey", "l_linenumber", "l_suppkey", "s_nationkey")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** #43 corpus unigram LM vocabulary: the 100 most frequent tokens with
    * their corpus log-probabilities (count ≥ 5). */
  def lmVocab(s: SparkSession, dir: String): DataFrame =
    LanguageModel.unigramTable(Tables.documents(s, dir), "text", minCount = 5L)
      .select(col("token"), col("n"), round(col("logp"), 6).as("logp"))
      .orderBy(desc("n"), col("token"))
      .limit(100)

  /** #43b per-document mean token log-probability under the corpus
    * unigram LM — the LM-based quality gate (OOV tokens at the floor). */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val lm = LanguageModel.unigramTable(docs, "text", minCount = 5L)
    LanguageModel.scoreDocs(docs, "text", "doc_id", lm)
      .select(col("doc_id"), col("n_tokens"), round(col("logp_mean"), 6).as("logp_mean"))
      .orderBy("doc_id")
  }

  /** #43g Good-Turing frequency-of-frequencies (Gale & Sampson's
    * baseline, unsmoothed): N_r for r ≤ 10 from the corpus BIGRAM
    * counts (the unigram vocabulary of this corpus is tiny and
    * tail-free; bigrams have the long tail the estimator exists for),
    * the adjusted count r* = (r+1)·N_{r+1}/N_r, and the unseen-mass
    * estimate p₀ = N₁/N — the count table every discounting scheme
    * (Katz, SGT) starts from. All tallies are exact integers; r* and
    * p₀ each divide once at display. */
  def lmGoodTuring(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(LanguageModel.bigrams(col("text"))).as("bg"))
      .groupBy(concat_ws(" ", col("bg.a"), col("bg.b")).as("token"))
      .agg(count(lit(1)).as("c"))
    val fof = counts.groupBy("c").agg(count(lit(1)).as("n_r"))
    val tot = counts.agg(sum("c").as("n_tokens"))
    val n1 = fof.filter(col("c") === 1)
      .select(col("n_r").as("nr1"))
    val nxt = fof.select(col("c").as("c_next"), col("n_r").as("n_next"))
    fof.filter(col("c") <= 10)
      .join(nxt, col("c_next") === col("c") + 1, "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(n1))
      .select(col("c").as("r"), col("n_r"),
        when(col("n_next").isNotNull,
          round((col("c") + 1) * col("n_next") / col("n_r"), 6)).as("r_star"),
        round(col("nr1") / col("n_tokens"), 6).as("p_unseen"))
      .orderBy("r")
  }

  /** #37o Heaps' law fit of vocabulary growth: V(T) ≈ K·T^β measured
    * at 8 equal-width document checkpoints (corpus in doc_id order).
    * The vocabulary at a checkpoint counts tokens whose FIRST document
    * rank is within it — one token-level min-aggregate, no cumulative
    * re-scan per checkpoint — and the log-log least-squares fit runs
    * over integer-micro-rounded ln values (round-then-sum), so the
    * 8-term regression is exact integer arithmetic until the final
    * divisions. Document ranks come from the bucketed order stats, so
    * nothing sorts the corpus in one task. */
  def corpusHeaps(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val ranked = ChronoSplit.withOrderStats(docs, "doc_id", "doc_id")
      .select(col(ChronoSplit.RankCol).as("rk"), col("text"))
    val toks = ranked.select(col("rk"),
      explode(LanguageModel.tokens(col("text"))).as("tok"))
    val firstRank = toks.groupBy("tok").agg(min("rk").as("fr"))
    val perDoc = toks.groupBy("rk").agg(count(lit(1)).as("ntok"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    val cps = s.range(1, 9).select(col("id").as("k"))
      .crossJoin(broadcast(nd))
      .withColumn("cut", expr("(nd * k + 7) div 8"))
    val tox = perDoc.crossJoin(broadcast(cps))
      .filter(col("rk") <= col("cut"))
      .groupBy("k", "cut").agg(sum("ntok").as("cum_tokens"))
    val voc = firstRank.crossJoin(broadcast(cps))
      .filter(col("fr") <= col("cut"))
      .groupBy("k", "cut").agg(count(lit(1)).as("vocab"))
    val pts = tox.join(voc, Seq("k", "cut"))
      .withColumn("xn", round(log(col("cum_tokens")) * 1000000, 0).cast("long"))
      .withColumn("yn", round(log(col("vocab")) * 1000000, 0).cast("long"))
    val fit = pts.agg(count(lit(1)).as("m"),
        sum("xn").as("sx"), sum("yn").as("sy"),
        sum(col("xn") * col("yn")).as("sxy"),
        sum(col("xn") * col("xn")).as("sxx"))
      .withColumn("beta",
        (col("m") * col("sxy") - col("sx") * col("sy"))
          / (col("m") * col("sxx") - col("sx") * col("sx")))
      .withColumn("k_coef",
        exp((col("sy") - col("beta") * col("sx")) / col("m") / lit(1000000.0)))
    pts.crossJoin(broadcast(fit.select("beta", "k_coef")))
      .select(col("k").as("checkpoint"), col("cut").as("n_docs"),
        col("cum_tokens"), col("vocab"),
        round(col("beta"), 6).as("beta"), round(col("k_coef"), 6).as("k_coef"))
      .orderBy("checkpoint")
  }

  /** #4h' Theil inequality indices of per-customer order revenue — the
    * decomposable entropy-based companions to the Lorenz/Gini readout:
    * T = (1/n)Σ (x/μ)ln(x/μ) and the mean log deviation
    * L = (1/n)Σ ln(μ/x). Revenue is exact integer cents, each
    * customer's ratio x·n/S is two exact integers divided once, and
    * both ln terms round to integer ppb BEFORE their sums
    * (round-then-sum), so float addition order never moves the hash. */
  def revenueTheil(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
    val tot = cust.agg(sum("cents").as("s"), count(lit(1)).as("n"))
    cust.crossJoin(broadcast(tot))
      .withColumn("ratio", col("cents") * col("n") / col("s"))
      .withColumn("t_ppb",
        round(col("ratio") * log(col("ratio")) * 1000000000.0, 0).cast("long"))
      .withColumn("l_ppb",
        round(log(col("ratio")) * 1000000000.0, 0).cast("long"))
      .groupBy("n", "s")
      .agg(sum("t_ppb").as("st"), sum("l_ppb").as("sl"))
      .select(col("n").as("n_customers"),
        round(col("s") / col("n") / 100.0, 6).as("mean_revenue"),
        round(col("st") / 1000000000.0 / col("n"), 6).as("theil_t"),
        round(-col("sl") / 1000000000.0 / col("n"), 6).as("theil_l"))
  }

  /** #26i corpus vocabulary drift between document halves — which
    * bigrams surged or collapsed from the first half of the corpus (by
    * doc_id) to the second: Haldane-corrected log-odds ratio of each
    * bigram's rate with its Wald z, top 20 movers by |z|. Counts are
    * exact integers; lor/se/z are floats built from them with one
    * pinned expression, z rounds to 6 BEFORE the rank (round-then-
    * rank, bigram tiebreak). The monitoring screen that catches a
    * crawl-mix shift before it reaches training. */
  def vocabDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val mid = docs.agg(expr("(min(doc_id) + max(doc_id)) div 2").as("mid"))
    val toks = docs.crossJoin(broadcast(mid))
      .withColumn("side", when(col("doc_id") <= col("mid"), 0L).otherwise(1L))
      .select(col("side"),
        explode(LanguageModel.bigrams(col("text"))).as("bg"))
      .select(col("side"), concat_ws(" ", col("bg.a"), col("bg.b")).as("tok"))
    val cells = toks.groupBy("tok")
      .agg(sum(when(col("side") === 0L, 1L).otherwise(0L)).as("a"),
        sum(when(col("side") === 1L, 1L).otherwise(0L)).as("b"))
      .filter(col("a") + col("b") >= 5)
    val tot = toks.agg(
      sum(when(col("side") === 0L, 1L).otherwise(0L)).as("ta"),
      sum(when(col("side") === 1L, 1L).otherwise(0L)).as("tb"))
    cells.crossJoin(broadcast(tot))
      .withColumn("lor",
        log((col("a") + lit(0.5)) / (col("ta") - col("a") + lit(0.5)))
          - log((col("b") + lit(0.5)) / (col("tb") - col("b") + lit(0.5))))
      .withColumn("se", sqrt(
        lit(1.0) / (col("a") + lit(0.5))
          + lit(1.0) / (col("ta") - col("a") + lit(0.5))
          + lit(1.0) / (col("b") + lit(0.5))
          + lit(1.0) / (col("tb") - col("b") + lit(0.5))))
      .withColumn("z", round(col("lor") / col("se"), 6))
      .select(col("tok"), col("a").as("n_first"), col("b").as("n_second"),
        round(col("lor"), 6).as("log_odds"), col("z"))
      .orderBy(abs(col("z")).desc, col("tok"))
      .limit(20)
  }

  /** #36d LM-scored data diet (composed curation): keep each
    * language's best-scoring half by unigram-LM mean log-probability,
    * then cap survivors at 15 per (lang, source) — the
    * select-by-model-score + domain-cap recipe (CCNet / DoReMi-style)
    * composed from the suite's own LM gate and cap operators. Scores
    * round to 6 BEFORE both ranks (round-then-rank); zero-token docs
    * (null score) are excluded explicitly on both sides because the
    * engines' null-ordering defaults differ. */
  def corpusDiet(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val lm = LanguageModel.unigramTable(docs, "text", minCount = 5L)
    val scored = LanguageModel.scoreDocs(docs, "text", "doc_id", lm)
      .select(col("doc_id"), round(col("logp_mean"), 6).as("lp"))
      .filter(col("lp").isNotNull)
      .join(docs.select("doc_id", "lang", "source"), "doc_id")
    val half = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("lp").desc, col("doc_id"))))
      .join(scored.groupBy("lang").agg(count(lit(1)).as("nl")), "lang")
      .filter(col("rn") * 2 <= col("nl"))
    half
      .withColumn("rs", row_number().over(Window.partitionBy("lang", "source")
        .orderBy(col("lp").desc, col("doc_id"))))
      .filter(col("rs") <= 15)
      .select(col("doc_id"), col("lang"), col("source"),
        col("lp").as("logp_mean"))
      .orderBy("doc_id")
  }

  /** #44 sliding-window chunking: 64-token windows, stride 48 (16-token
    * overlap) — the context-window prep step. */
  def chunkWindows(s: SparkSession, dir: String): DataFrame =
    // Tokenize + window explode + slice/rejoin are CPU-dense narrow ops
    // fused onto a single-split corpus scan — spread the docs first
    // (fanOut: no-op on a wide at-scale scan).
    Chunking.slidingWindows(Tables.fanOut(Tables.documents(s, dir)),
        "text", "doc_id", window = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  /** #45 distribution-relative quality pruning: per-language middle 80%
    * by quality score (trim each language's bottom and top decile). */
  def qualityBand(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("quality_score", round(TextAnalysis.qualityScore(col("text")), 6))
    Sampling.rankBand(scored, Seq(col("lang")),
        Seq(col("quality_score"), col("doc_id")),
        loNumer = 1, hiNumer = 9, denom = 10)
      .select("doc_id", "lang", "quality_score")
      .orderBy("doc_id")
  }

  /** #46 deterministic corpus shuffle: reproducible pseudo-random
    * training order (seed 7), ranks from the bounded-window machinery. */
  def corpusShuffle(s: SparkSession, dir: String): DataFrame =
    Sampling.deterministicShuffle(
        Tables.documents(s, dir), arithHash(col("doc_id"), 7L), "doc_id")
      .select("position", "doc_id")
      .orderBy("position")

  /** #35b semantic decontamination: corpus vectors within cosine 0.7 of
    * a planted eval set (tail-zeroed mutations of every 25th embedding,
    * cos ≈ 0.93 to their source; natural pairs top out near 0.51). */
  def decontamSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val eval = emb.filter(pmod(col("vec_id"), lit(25)) === 0)
      .select(expr(
        "concat(slice(embedding, 1, 56), array_repeat(cast(0.0 as float), 8))")
        .as("embedding"))
    Decontaminate.semanticContaminated(emb, "vec_id", "embedding",
        eval, "embedding", threshold = 0.7)
      .select(col("vec_id"), col("n_hits"),
        round(col("max_cosine"), 6).as("max_cosine"))
      .orderBy("vec_id")
  }

  /** #43c corpus bigram LM: the 100 most frequent bigrams with their
    * conditional log-probabilities P(b|a) (count ≥ 3). */
  def lmBigramVocab(s: SparkSession, dir: String): DataFrame =
    LanguageModel.bigramTable(Tables.documents(s, dir), "text", minCount = 3L)
      .select(col("token_a"), col("token_b"), col("n"),
        round(col("logp"), 6).as("logp"))
      .orderBy(desc("n"), col("token_a"), col("token_b"))
      .limit(100)

  /** #43d per-document mean bigram log-probability under stupid backoff
    * (ln 0.4 + unigram score for unseen bigrams, OOV at the floor). */
  def lmBigramScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val uni = LanguageModel.unigramTable(docs, "text", minCount = 5L)
    val bi = LanguageModel.bigramTable(docs, "text", minCount = 3L)
    LanguageModel.scoreDocsBigram(docs, "text", "doc_id", bi, uni, backoff = 0.4)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("logp_mean"), 6).as("logp_mean"))
      .orderBy("doc_id")
  }

  /** #47 latest-wins snapshot compaction: the events log as a CDC feed
    * keyed by (user, event type) — keep each key's newest row. */
  def upsertLatest(s: SparkSession, dir: String): DataFrame =
    graft.ops.Upsert.latestWins(Tables.events(s, dir),
        keyCols = Seq("user_id", "event_type"),
        versionCol = "ts", tieCols = Seq("event_id"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), round(col("value"), 6).as("value"))
      .orderBy("user_id", "event_type")

  /** #40b BM25 keyword retrieval: top-10 documents for a three-term
    * query mixing a rare term (dup, df 25) with common ones. */
  def bm25Search(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25Search(Tables.documents(s, dir), "text", "doc_id",
      query = Seq("vector", "key", "dup"), k = 10)

  /** #48 inverted index with sorted posting lists. The synthetic corpus
    * has a ~31-token vocabulary whose doc freqs scale with the corpus,
    * so any fixed cap either trivializes or empties the result across
    * sf dirs — the driver query indexes the full vocabulary and the
    * hot-token cap (the 100 TB discipline) is spec-exercised instead. */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.invertedIndex(Tables.documents(s, dir), "text", "doc_id",
        maxDf = Int.MaxValue)
      .orderBy("token")

  /** #49 corpus-wide 5-gram novelty profile per document. */
  def textNovelty(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.noveltyProfile(Tables.documents(s, dir), "text", "doc_id", n = 5)
      .orderBy("doc_id")

  /** #50 per-type winsorization of event values at [P5, P95]. */
  def winsorizeEvents(s: SparkSession, dir: String): DataFrame =
    graft.ops.Numeric.winsorize(Tables.events(s, dir),
        Seq("event_type"), "value", 0.05, 0.95)
      .select(col("event_id"), col("event_type"),
        round(col("value_w"), 6).as("value_w"))
      .orderBy("event_id")

  /** #50b per-type z-score standardization of event values. */
  def zscoreEvents(s: SparkSession, dir: String): DataFrame =
    graft.ops.Numeric.standardize(Tables.events(s, dir),
        Seq("event_type"), "value")
      .select(col("event_id"), col("event_type"),
        round(col("value_z"), 6).as("value_z"))
      .orderBy("event_id")

  /** #38b Gopher n-gram repetition rules: top-bigram concentration and
    * duplicate-trigram fraction per document. */
  def textNgramRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramRepetition(Tables.documents(s, dir), "text", "doc_id")
      .select(col("doc_id"), col("n_bigrams"),
        round(col("top_bigram_frac"), 6).as("top_bigram_frac"),
        round(col("dup_trigram_frac"), 6).as("dup_trigram_frac"))
      .orderBy("doc_id")

  /** #37c equal-width value histogram per event type (10 bins over each
    * type's own range). */
  def eventsHistogram(s: SparkSession, dir: String): DataFrame =
    Sketches.histogram(Tables.events(s, dir), "event_type", "value", bins = 10)
      .orderBy("event_type", "bin")

  /** #37d φ=0.02 heavy hitters over the corpus token stream — the
    * boilerplate/stopword detector. Misra-Gries candidates per partition
    * (no false negatives by the weighted pigeonhole), then exact counts
    * over the semi-joined survivors, so the answer is EXACTLY the tokens
    * with frequency ≥ ⌈φN⌉ and SQL-decidable. */
  def heavyHittersTokens(s: SparkSession, dir: String): DataFrame =
    // Misra-Gries candidates are per-PARTITION state: a single-split scan
    // would both serialize the tokenize and run one global MG pass —
    // spread the docs first (fanOut: no-op wide; the candidate union is
    // partition-count-insensitive because exact counts re-verify).
    Sketches.heavyHitters(
        Tables.fanOut(Tables.documents(s, dir))
          .select(explode(LanguageModel.tokens(col("text"))).as("token")),
        "token", phi = 0.02)
      .orderBy("item")

  /** #43e BPE merge-step pair counts: the argmax table of tokenizer
    * training, top 200 symbol pairs by corpus frequency. */
  def bpePairs(s: SparkSession, dir: String): DataFrame =
    LanguageModel.bpePairCounts(Tables.documents(s, dir), "text")
      .orderBy(desc("freq"), col("sym_a"), col("sym_b"))
      .limit(200)

  /** #26b per-document lexical diversity: type-token ratio + hapax
    * share, the vocabulary-richness quality signals. */
  def textDiversity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lexicalDiversity(Tables.documents(s, dir), "text", "doc_id")
      .orderBy("doc_id")

  /** #26h distinct-n corpus diversity per source — the standard
    * generation-diversity readout (Li et al. 2016) a training-data
    * release reports next to the per-document TTR ([[textDiversity]]):
    * distinct-1 = |vocab| / tokens and distinct-2 = |distinct bigrams|
    * / bigrams, over the shared `[a-z]+` token stream
    * ([[graft.ops.LanguageModel.tokens]]/[[graft.ops.LanguageModel.bigrams]]
    * — adjacency stays INSIDE documents, zip-of-array, no positional
    * self-join). Low distinct-2 under normal distinct-1 is the
    * boilerplate/template signature near-dup hashing misses.
    *
    * Scale shape: two explode → (source, gram)-keyed exact distinct
    * counts with partial aggregation; the exchange carries grams, not
    * text. At 100 TB the same query swaps countDistinct for a per-gram
    * HLL sketch ([[rollingHll]] pattern) without changing shape.
    * Ratios pinned golden in [[graft.queries.EdgeBranchSpec]]. */
  def corpusDistinctN(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.LanguageModel
    val d = Tables.documents(s, dir)
    val uni = d.select(col("source"),
        explode(LanguageModel.tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("tok").as("v1"))
    val bi = d.select(col("source"),
        explode(LanguageModel.bigrams(col("text"))).as("bg"))
      .select(col("source"),
        concat_ws(" ", col("bg.a"), col("bg.b")).as("bg2"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"), countDistinct("bg2").as("v2"))
    uni.join(bi, Seq("source"), "left")
      .select(col("source"), col("n_tokens"), col("v1"),
        round(col("v1") / col("n_tokens").cast("double"), 6).as("distinct_1"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("v2"), lit(0L)).as("v2"),
        expr("""case when n_bigrams > 0
          then round(v2/cast(n_bigrams as double), 6) end""").as("distinct_2"))
      .orderBy("source")
  }

  /** #37m token Zipf rank-frequency fit: least squares over
    * (ln rank, ln freq) of the corpus vocabulary — the text sibling of
    * the value-domain power-law screen (`corpus_powerlaw`); slope ≈ −1
    * is Zipfian health, a flat slope flags boilerplate/synthetic text.
    * Ranking is total-ordered by (freq desc, token); the rank window
    * runs over the VOCABULARY (≪ corpus), never the token stream. */
  def corpusZipf(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
    // The fit needs EVERY rank (log-rank is the regressor), and the
    // vocabulary grows with the corpus — so the exact global rank comes
    // from the bucketed order statistics, not a single-partition window.
    // Order (n desc, t asc) ≡ (−n asc, t asc).
    ChronoSplit
      .withOrderStats(counts.withColumn("negn", -col("n")), "negn", "t")
      .withColumnRenamed(ChronoSplit.RankCol, "rk")
      .agg(count(lit(1)).as("n_types"),
        round(regr_slope(log(col("n")), log(col("rk"))), 6).as("slope"),
        round(regr_intercept(log(col("n")), log(col("rk"))), 6).as("intercept"),
        round(regr_r2(log(col("n")), log(col("rk"))), 6).as("r2"))
  }

  /** #47g incremental JOIN-view maintenance
    * ([[graft.ops.Incremental.maintainJoin]]): a materialized
    * orders⋈customer view kept current under appended orders (every
    * third order is the delta) AND a dim update (every 10th customer's
    * segment migrates) — only invalidated/new facts re-join; the oracle
    * recomputes the direct join against the patched dim, so the
    * maintenance path must agree exactly. Emits the per-segment
    * exact-cents rollup of the maintained view. */
  def joinIncremental(s: SparkSession, dir: String): DataFrame = {
    val cust0 = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    val changed = cust0.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), lit("MIGRATED").as("c_mktsegment"))
    val cust1 = cust0.filter(col("c_custkey") % 10 =!= 0).unionByName(changed)
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val matview = orders.filter(col("o_orderkey") % 3 =!= 0).join(cust0, "c_custkey")
    val delta = orders.filter(col("o_orderkey") % 3 === 0)
    graft.ops.Incremental
      .maintainJoin(matview, delta, cust1, changed.select("c_custkey"),
        "c_custkey", Seq("c_mktsegment"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("cents") / lit(100.0), 2).as("revenue"))
      .orderBy("segment")
  }

  /** #37l count-min sketch frequency estimates audited against exact
    * counts ([[Sketches.cmSketch]]): a 4×256 sketch of the corpus token
    * stream, point-estimated on the exact top-50 tokens. Estimates are
    * deterministic md5-bucket arithmetic, so the oracle matches them
    * EXACTLY — and `never_under` certifies the one-sided CM guarantee
    * row by row. */
  def cmSketchTokens(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("t"))
    // One token pass serves both the sketch and the exact audit: fold to
    // per-token counts first, then sketch the WEIGHTED vocabulary —
    // identical counters (integer sums), |vocab|·depth bucket hashes
    // instead of |tokens|·depth.
    val counts = toks.groupBy("t").agg(count(lit(1)).as("n_exact"))
      .transform(Tables.checkpoint)
    val sketch = Sketches.cmSketchWeighted(counts, "t", "n_exact",
      depth = 4, width = 256)
    val top = counts.orderBy(desc("n_exact"), col("t")).limit(50)
    Sketches.cmEstimate(sketch, top, "t", depth = 4, width = 256)
      .join(top.withColumnRenamed("t", "item"), "item")
      .select(col("item").as("token"), col("n_exact"), col("n_est"),
        (col("n_est") >= col("n_exact")).as("never_under"))
      .orderBy(desc("n_exact"), col("token"))
  }

  /** #49c windowed skip-gram pair counts over the corpus
    * ([[TextAnalysis.skipGramPairs]]): the word2vec/SGNS training-pair
    * table (window 3, count ≥ 5), ordered canonically. */
  def textSkipgram(s: SparkSession, dir: String): DataFrame =
    // The window-pair explode multiplies each token ~2·window times and
    // the corpus scan is one parquet split — fan the docs out first so
    // the tokenize+zip explode runs cluster-wide (pre-explode bytes are
    // the cheap place to shuffle).
    TextAnalysis.skipGramPairs(
        Tables.fanOut(Tables.documents(s, dir)),
        "text", window = 3, minCount = 5L)
      .orderBy("w", "c")

  /** #26h charset / Unicode-composition audit per language: mean
    * per-document ratios of letters, uppercase, digits, whitespace,
    * ASCII punctuation, and non-ASCII bytes — the encoding-hygiene
    * screen (mojibake, digit dumps, foreign-script leakage) a corpus
    * release runs per language bucket. Per-doc ratios are exact
    * integer/length divisions rounded at 6; the per-language mean is
    * rounded again at 6 (the cross-engine summation-order guard). */
  def textCharset(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    def cnt(pat: String): Column =
      size(regexp_extract_all(t, lit(pat), lit(0))).cast("double")
    val len = greatest(length(t), lit(1)).cast("double")
    def ratio(pat: String): Column = round(cnt(pat) / len, 6)
    Tables.documents(s, dir)
      .select(col("lang"),
        ratio("[A-Za-z]").as("letter_r"),
        ratio("[A-Z]").as("upper_r"),
        ratio("[0-9]").as("digit_r"),
        ratio("\\s").as("ws_r"),
        ratio("[^A-Za-z0-9\\s]").as("punct_r"),
        ratio("[^\\x00-\\x7F]").as("nonascii_r"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("letter_r"), 6).as("letter_r"),
        round(avg("upper_r"), 6).as("upper_r"),
        round(avg("digit_r"), 6).as("digit_r"),
        round(avg("ws_r"), 6).as("ws_r"),
        round(avg("punct_r"), 6).as("punct_r"),
        round(avg("nonascii_r"), 6).as("nonascii_r"))
      .orderBy("lang")
  }

  /** #7e' time-bound conversion funnel: first view → first click within
    * 1 h → first purchase within 24 h of that click, per user, with mean
    * stage-transition latencies. The unbounded q10_funnel counts stage
    * reach; this is the product-analytics variant where a conversion
    * only counts inside its window. All timestamps are exact integer
    * micros; the stage joins key on user_id (one shuffle each) with the
    * per-user firsts reduced BEFORE the join — the fact table is never
    * fanned out. */
  def funnelTtc(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("us") > col("t1") && col("us") <= col("t1") + lit(3600000000L))
      .groupBy("user_id", "t1").agg(min("us").as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c.select("user_id", "t2"), "user_id")
      .filter(col("us") > col("t2") && col("us") <= col("t2") + lit(86400000000L))
      .groupBy("user_id", "t2").agg(min("us").as("t3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_1h"),
        round(avg(col("t2") - col("t1")) / lit(1000000.0), 6).as("avg_view_click_s")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_24h"),
        round(avg(col("t3") - col("t2")) / lit(1000000.0), 6).as("avg_click_purchase_s")))
      .select(col("n_view"), col("n_click_1h"), col("n_purchase_24h"),
        col("avg_view_click_s"), col("avg_click_purchase_s"))
  }

  /** #7l join-key skew audit of events.user_id — the one-row
    * distribution profile (hot-key share + entropy) consulted before
    * choosing plain vs salted vs broadcast join. */
  def skewProfileUsers(s: SparkSession, dir: String): DataFrame =
    Sketches.skewProfile(Tables.events(s, dir), "user_id")

  /** #37e equi-depth histogram: 8 depth buckets of value per event
    * type (deterministic via the event_id tiebreak). */
  def eventsEqdepth(s: SparkSession, dir: String): DataFrame =
    Sketches.equiDepthHistogram(
        Tables.events(s, dir), "event_type", "value", "event_id", buckets = 8)
      .orderBy("event_type", "bucket")

  /** #50c per-group robust scaling: (v − median) / (1.4826·MAD). */
  def robustScaleEvents(s: SparkSession, dir: String): DataFrame =
    graft.ops.Numeric.robustScale(Tables.events(s, dir), Seq("event_type"), "value")
      .select(col("event_id"), col("event_type"),
        round(col("value_r"), 6).as("value_r"))
      .orderBy("event_id")

  /** #43f CCNet-style perplexity bucketing: per-language head/middle/
    * tail bands under the corpus unigram LM; `kept` marks the
    * head+middle slice a CCNet pipeline retains. */
  def corpusCcnet(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val lm = LanguageModel.unigramTable(docs, "text", minCount = 5L)
    LanguageModel.perplexityBuckets(docs, "text", "doc_id", "lang", lm, buckets = 3)
      .select(col("doc_id"), col("lang"), col("logp_mean"),
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail").as("ppl_band"),
        (col("bucket") < 3).as("kept"))
      .orderBy("doc_id")
  }

  /** #40c TF-IDF cosine retrieval, same three-term query as BM25 so the
    * two rankings are directly comparable. */
  def tfidfSearch(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfSearch(Tables.documents(s, dir), "text", "doc_id",
      query = Seq("vector", "key", "dup"), k = 10)

  /** #40f query-likelihood Dirichlet retrieval, same three-term query
    * as BM25/TF-IDF so all three rankings are directly comparable —
    * the LM-based third member of the retrieval family (and the one
    * that scores no-hit documents by background mass instead of
    * dropping them). */
  def qlSearch(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.queryLikelihoodSearch(Tables.documents(s, dir), "text", "doc_id",
      query = Seq("vector", "key", "dup"), k = 10)

  /** #49e TextRank keyword extraction over the adjacent-token
    * co-occurrence graph — the graph-centrality keyword ranking next
    * to the frequency-based TF-IDF/BM25 keywords; integer pico-unit
    * PageRank state keeps all five iterations engine-exact. */
  def textrankKeywords(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.textrankKeywords(Tables.documents(s, dir), "text", k = 20)

  /** #49b token co-occurrence PMI (df ≥ 5 pairs) — the count-based
    * word-association matrix. */
  def tokenPmi(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiPairs(Tables.documents(s, dir), "text", "doc_id",
        minPairCount = 5L)
      .orderBy("tok_a", "tok_b")

  /** #49d per-language χ² keyword selection
    * ([[TextAnalysis.tokenChi2]]): the top-5 tokens whose document
    * presence is most associated with each language — the supervised
    * feature-selection companion to [[tokenPmi]]'s unsupervised
    * co-occurrence. Exact-integer contingency, round-then-rank through
    * the bounded-heap custom top-k operator. */
  def tokenChi2(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenChi2(Tables.documents(s, dir), "text", "doc_id", "lang",
      k = 5, minDf = 5L)

  /** #45b per-language percent-rank calibration of the quality score:
    * a threshold on the calibrated rank keeps the same share of every
    * language, where a raw-score cut would not. */
  def qualityCalibrate(s: SparkSession, dir: String): DataFrame =
    graft.ops.Numeric.percentRankCalibrate(
        TextAnalysis.quality(Tables.documents(s, dir), "text")
          .select("doc_id", "lang", "quality_score"),
        Seq("lang"), "quality_score", "doc_id")
      .select(col("doc_id"), col("lang"), col("quality_score"),
        round(col("quality_score_pr"), 6).as("q_pr"))
      .orderBy("doc_id")

  /** #47b incremental aggregate maintenance: the events rollup
    * recomputed the way a 100 TB pipeline maintains it — aggregate the
    * base (first 80% by time) and the delta (last 20%) separately,
    * merge the KB-scale snapshots — and the result must equal the
    * direct aggregation over everything, which is exactly what the
    * oracle computes. */
  def aggIncremental(s: SparkSession, dir: String): DataFrame = {
    val Seq(base, delta) = ChronoSplit.split(
      Tables.events(s, dir), Seq(0.8, 0.2), "ts", "event_id")
    def snap(d: DataFrame) = d.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    graft.ops.Incremental
      .mergeAggSnapshots(Seq(snap(base), snap(delta)), Seq("event_type"))
      .select(col("event_type"), col("n_events"),
        round(col("sum_value"), 6).as("sum_value"))
      .orderBy("event_type")
  }

  /** #46b Z-order layout cells: Morton curve values over
    * (value, user_id) — the two-predicate data-skipping layout. */
  def zorderCells(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.zorderCells(Tables.events(s, dir), "value", "user_id", bits = 8)
      .select(col("event_id"), col("xcell"), col("ycell"), col("zval"))
      .orderBy("event_id")

  /** #53 per-language table checksum: the migration-validation
    * fingerprint — one (n_rows, xor-of-row-md5) row per language over
    * every documents column. */
  def tableChecksum(s: SparkSession, dir: String): DataFrame =
    graft.ops.Integrity.groupChecksum(Tables.documents(s, dir), Seq("lang"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
      .orderBy("lang")

  /** #37f per-type correlation profile: Pearson corr and sample
    * covariance of value against time-of-day (hours), plus the value
    * stddev — the feature-screening pass before a model sees either
    * column. */
  def eventsCorr(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("tod_h",
        (unix_micros(col("ts")) % lit(86400000000L)) / lit(3600000000.0))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(corr("value", "tod_h"), 6).as("corr_vt"),
        round(covar_samp("value", "tod_h"), 6).as("covar_vt"),
        round(stddev_samp("value"), 6).as("sd_value"))
      .orderBy("event_type")

  /** #37g power-law tail exponent of document lengths (xmin = 100
    * chars) — the corpus-health scalar that moves when the crawl mix
    * changes. */
  def corpusPowerlaw(s: SparkSession, dir: String): DataFrame =
    graft.ops.Numeric.powerLawAlpha(Tables.documents(s, dir), "n_chars", 100.0)

  /** #37h hourly volume anomalies: per-type hourly event counts
    * z-scored against the type's own hourly distribution, |z| > 3
    * flagged ([[graft.ops.Numeric.standardize]] on the aggregated
    * series). */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("n"))
    graft.ops.Numeric.standardize(hourly, Seq("event_type"), "n")
      .select(col("event_type"), col("hour_us"), col("n"),
        round(col("n_z"), 6).as("z"),
        (abs(col("n_z")) > 3.0).as("is_anomaly"))
      .orderBy("event_type", "hour_us")
  }

  /** #36b duplicate-rate-by-source report: the composition consumers
    * actually run — exact-content fingerprints, corpus-wide duplicate
    * groups, per-source share of docs sitting in one. Re-posted docs
    * are planted (every 50th doc re-ingested under a shifted id) so
    * the rate is non-trivially non-zero and the oracle plants the
    * identical set. */
  def dedupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val planted = docs.unionAll(
      docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val fp = planted.select(col("doc_id"), col("source"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val dupFps = fp.groupBy("fp").agg(count(lit(1)).as("nc"))
      .filter(col("nc") > 1).select("fp")
    val tot = fp.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val dup = fp.join(dupFps, Seq("fp"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup"))
    tot.join(dup, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)) / col("n_docs"), 6).as("dup_rate"))
      .orderBy("source")
  }

  /** #7m semi-structured property extraction: events.props is a JSON
    * string; parse it with an EXPLICIT schema (`from_json` — the
    * schema-first discipline of the typed sources, no inference scan)
    * and aggregate the extracted field per type. */
  def eventsJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k",
        from_json(col("props"), "k BIGINT", Map.empty[String, String])("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        round(avg("k"), 6).as("avg_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** #5b time-RANGE windowed aggregation: trailing-hour count and mean
    * per event over its type's stream — the moving-average shape
    * (RANGE frames are tie-safe: peers at the same timestamp share one
    * frame on both engines, so no tiebreak is even needed). */
  def eventsMovingAvg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("tsu"))
      .rangeBetween(-3600000000L, 0L) // trailing hour in µs
    Tables.events(s, dir)
      .withColumn("tsu", unix_micros(col("ts")))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("avg_1h", round(avg("value").over(w), 6))
      .select("event_id", "event_type", "tsu", "n_1h", "avg_1h")
      .orderBy("event_id")
  }

  /** #37i per-type least-squares trend: slope/intercept/R² of value
    * against time-of-day via the built-in regression aggregates — the
    * drift-screening pass (is this metric time-of-day dependent?). */
  def eventsRegression(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("tod_h",
        (unix_micros(col("ts")) % lit(86400000000L)) / lit(3600000000.0))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(regr_slope(col("value"), col("tod_h")), 6).as("slope"),
        round(regr_intercept(col("value"), col("tod_h")), 6).as("intercept"),
        round(regr_r2(col("value"), col("tod_h")), 6).as("r2"))
      .orderBy("event_type")

  /** #37j lang × source chi-square independence audit: the full
    * contingency arithmetic — observed vs expected counts,
    * Σ (o−e)²/e and its degrees of freedom — pure aggregation, no
    * statistics library. */
  def corpusChi2(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val obs = d.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rowT = d.groupBy("lang").agg(count(lit(1)).as("rt"))
    val colT = d.groupBy("source").agg(count(lit(1)).as("ct"))
    val tot = d.agg(count(lit(1)).as("n"))
    obs.join(broadcast(rowT), "lang")
      .join(broadcast(colT), "source")
      .crossJoin(broadcast(tot))
      .withColumn("e", col("rt") * col("ct") / col("n"))
      .agg(
        round(sum(pow(col("o") - col("e"), 2) / col("e")), 6).as("chi2"),
        ((countDistinct("lang") - 1) * (countDistinct("source") - 1))
          .as("dof"))
  }

  /** #14c deterministic group-aware k-fold assignment: folds are
    * md5-of-user arithmetic, so every event of a user lands in ONE
    * fold (no user leaks across train/validation) and the assignment
    * reproduces on any engine with no RNG state. Emits the per-fold
    * profile; disjointness is implied by the per-fold distinct-user
    * counts matching the oracle's. */
  def cvFolds(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("fold",
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 15),
          16, 10).cast("long"), lit(5L)))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"))
      .orderBy("fold")

  /** #37f' Spearman rank correlation (min-rank convention) between value
    * and time-of-day per event type: Pearson over rank() pairs — exact
    * Spearman absent ties, engine-identical under ties because both
    * sides use SQL min-rank semantics. The rank windows share one
    * exchange on event_type (same partitioning, two sorts). */
  def eventsSpearman(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.events(s, dir)
      .withColumn("tod_h",
        (unix_micros(col("ts")) % lit(86400000000L)) / lit(3600000000.0))
    base
      .withColumn("rv",
        rank().over(Window.partitionBy("event_type").orderBy("value")).cast("double"))
      .withColumn("rt",
        rank().over(Window.partitionBy("event_type").orderBy("tod_h")).cast("double"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(corr("rv", "rt"), 6).as("spearman"))
      .orderBy("event_type")
  }

  /** #5f per-user interval coalescing: each event opens a window of
    * `value` × 10 minutes; overlapping windows merge into maximal
    * islands ([[graft.ops.Intervals.coalesce]]). Durations go through
    * an exact integer cents step (`round(value·100)` · 6e6 µs) so both
    * engines derive identical interval ends from the float column. */
  def intervalCoalesce(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(s, dir)
      .withColumn("s_us", unix_micros(col("ts")))
      .withColumn("e_us",
        col("s_us") + round(col("value") * 100, 0).cast("long") * 6000000L)
    graft.ops.Intervals.coalesce(iv, Seq("user_id"), "s_us", "e_us")
      .select("user_id", "island_start", "island_end", "n_merged")
      .orderBy("user_id", "island_start")
  }

  /** #47b SCD2 history build ([[graft.ops.Upsert.scd2]]): the events
    * CDC feed keyed by (user, type) becomes a type-2 dimension — every
    * revision carries its validity interval and a current flag. */
  def scd2History(s: SparkSession, dir: String): DataFrame =
    graft.ops.Upsert.scd2(Tables.events(s, dir),
        keyCols = Seq("user_id", "event_type"),
        versionCol = "ts", tieCols = Seq("event_id"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        col("is_current"))
      .orderBy("user_id", "event_type", "valid_from_us", "event_id")

  /** #47c keyed snapshot diff ([[graft.ops.Snapshot.diff]]): two
    * deterministically-derived document generations — rows absent from
    * the old side (doc_id ≡ 3 mod 11), absent from the new
    * (≡ 7 mod 11), and content-bumped (doc_id ≡ 0 mod 5) — audited to
    * added/removed/changed. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
    val oldGen = docs.filter(col("doc_id") % 11 =!= 3)
    val newGen = docs.filter(col("doc_id") % 11 =!= 7)
      .withColumn("n_chars",
        col("n_chars") + when(col("doc_id") % 5 === 0, 1L).otherwise(0L))
    graft.ops.Snapshot.diff(oldGen, newGen, Seq("doc_id"), Seq("lang", "n_chars"))
      .orderBy("doc_id")
  }

  private val coocCache = new Memo[DataFrame]

  /** The part co-purchase pair list, materialized once per (session,
    * dir): the neighbor table itself, the recommendation-quality audit,
    * and the graph assortativity screen are three consumers of one
    * pair computation (`_mat_cooc_pairs` times the build in Bench). */
  def coocPairs(s: SparkSession, dir: String): DataFrame =
    coocCache(s, dir)(
      graft.ops.Cooccur.pairs(Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
          minCount = 2L)
        .transform(Tables.checkpoint))

  /** #13d market-basket co-occurrence ([[graft.ops.Cooccur.pairs]]):
    * parts appearing together in ≥ 2 orders, with lift — the exact
    * item-to-item neighbor table next to the factor recommender. */
  def itemCooc(s: SparkSession, dir: String): DataFrame =
    coocPairs(s, dir).orderBy("item_a", "item_b")

  /** #19x Adamic-Adar link prediction over the co-purchase graph
    * ([[graft.ops.LinkPredict.adamicAdar]]): the 20 strongest
    * not-yet-co-purchased part pairs by rare-common-neighbor weight —
    * the "these two items WILL be bought together" shortlist next to
    * [[itemCooc]]'s observed pairs. Integer micro-scores
    * (round-then-sum), hub cap on the middle vertex, distributed
    * top-k. */
  def linkAdamicAdar(s: SparkSession, dir: String): DataFrame =
    graft.ops.LinkPredict.adamicAdar(
        coocPairs(s, dir).select("item_a", "item_b"), "item_a", "item_b")
      .select(col("a").as("item_a"), col("b").as("item_b"),
        col("n_common"), col("aa_score_us"))

  /** #19x' Jaccard link prediction over the same co-purchase graph
    * ([[graft.ops.LinkPredict.jaccard]]): the overlap-share companion
    * to [[linkAdamicAdar]]'s rarity weighting — the 20 strongest
    * not-yet-co-purchased pairs by |Γa∩Γb| / |Γa∪Γb|. One exact
    * ppm-rounded integer ratio per pair, hub-capped middle join,
    * distributed top-k. */
  def linkJaccard(s: SparkSession, dir: String): DataFrame =
    graft.ops.LinkPredict.jaccard(
        coocPairs(s, dir).select("item_a", "item_b"), "item_a", "item_b")
      .select(col("a").as("item_a"), col("b").as("item_b"),
        col("n_common"), col("deg_a"), col("deg_b"), col("jaccard_ppm"))

  /** #19z modularity Q of the label-propagation communities — the
    * standard "are these communities better than chance" score over
    * the same partition [[graphCommunities]] reports:
    * Q = E_in/m − Σ_c d_c²/(4m²), assembled as the single exact
    * integer ratio (4m·E_in − Σd_c²)/(4m²) (DECIMAL(38,0) vs HUGEINT)
    * so no float enters before the one display division. Degrees and
    * intra-edges are two small joins against the deterministic label
    * table. */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    val edges = coocPairs(s, dir).select("item_a", "item_b")
    val labs = graft.ops.LabelProp.communities(edges, "item_a", "item_b")
    val la = labs.select(col("v").as("item_a"), col("community").as("ca"))
    val lb = labs.select(col("v").as("item_b"), col("community").as("cb"))
    val m = edges.agg(count(lit(1)).as("m"))
    val eIn = edges.join(la, "item_a").join(lb, "item_b")
      .agg(sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("e_in"))
    val sym = edges.select(col("item_a").as("u"))
      .unionAll(edges.select(col("item_b").as("u")))
    val dc = sym.groupBy("u").agg(count(lit(1)).as("deg"))
      .join(labs.withColumnRenamed("v", "u"), "u")
      .groupBy("community").agg(sum("deg").as("d_c"))
    val dsq = dc.agg(count(lit(1)).as("n_communities"),
      sum(expr("cast(d_c as decimal(38,0)) * d_c")).as("sum_dsq"))
    m.crossJoin(broadcast(eIn)).crossJoin(broadcast(dsq))
      .select(col("n_communities"), col("m").as("m_edges"), col("e_in"),
        expr("""round(cast(4*cast(m as decimal(38,0))*e_in - sum_dsq as double)
          / cast(4*cast(m as decimal(38,0))*m as double), 6)""").as("modularity"))
  }

  /** #19y label-propagation communities on the co-purchase graph
    * ([[graft.ops.LabelProp.communities]]): three synchronous modal-
    * vote rounds from singleton labels, ties to the smallest label —
    * the deterministic community readout (which shopping clusters
    * exist) on the same edge list the association-rule and
    * assortativity queries use. */
  def graphCommunities(s: SparkSession, dir: String): DataFrame = {
    val labs = graft.ops.LabelProp.communities(
      coocPairs(s, dir).select("item_a", "item_b"), "item_a", "item_b")
    val sizes = labs.groupBy("community").agg(count(lit(1)).as("community_size"))
    labs.join(sizes, "community")
      .select(col("v").as("item"), col("community"), col("community_size"))
      .orderBy("item")
  }

  /** #13f recommendation-quality audit of the co-occurrence
    * recommender's top-3 lists: catalog coverage (how much of the
    * catalog is ever recommended) and popularity bias (mean popularity
    * percent-rank of recommended items; 0.5 = popularity-neutral,
    * → 1 = head-chasing). The serving-quality readout every
    * recommender ships with, computed here on the deterministic
    * co-purchase surrogate so it oracles exactly.
    *
    * Scale shape: lists come from one bounded window over the pair
    * list; the popularity percent-rank is a window over the ITEM
    * catalog (≪ facts), and the final numbers are one-row aggregates. */
  def recCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = coocPairs(s, dir)
    val sym = pairs.select(col("item_a").as("item"), col("item_b").as("rec"),
        col("lift"), col("n_ab"))
      .unionAll(pairs.select(col("item_b").as("item"), col("item_a").as("rec"),
        col("lift"), col("n_ab")))
    val top3 = sym
      .withColumn("rn", row_number().over(Window.partitionBy("item")
        .orderBy(desc("lift"), desc("n_ab"), col("rec"))))
      .filter(col("rn") <= 3)
    val b = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    // percent_rank over the catalog WITHOUT sorting the catalog in one
    // partition (items grow with the assortment): tied items share
    // (#strictly-below)/(N−1), so derive it from the count-of-counts
    // profile — the only window left runs over DISTINCT popularity
    // values, a frequency profile that is log-scale in the data.
    val itemCounts = b.groupBy("item").agg(count(lit(1)).as("n_item"))
    val cc = itemCounts.groupBy("n_item").agg(count(lit(1)).as("c"))
    val below = cc.withColumn("below",
      coalesce(sum("c").over(Window.orderBy("n_item")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val pr = itemCounts
      .join(broadcast(below.select("n_item", "below")), "n_item")
      .crossJoin(broadcast(cc.agg(sum("c").as("n_all"))))
      .withColumn("pop_pr", col("below") / (col("n_all") - 1))
    val audit = top3.join(pr.select(col("item").as("rec"), col("pop_pr")), "rec")
      .agg(countDistinct("item").as("n_rec_items"),
        countDistinct("rec").as("n_rec_distinct"),
        round(avg("pop_pr"), 6).as("mean_rec_pop_pr"))
    Tables.part(s, dir).agg(count(lit(1)).as("n_catalog"))
      .crossJoin(b.agg(countDistinct("item").as("n_sold")))
      .crossJoin(audit)
      .select(col("n_catalog"), col("n_sold"), col("n_rec_items"),
        col("n_rec_distinct"),
        round(col("n_rec_distinct") / col("n_catalog"), 6).as("catalog_coverage"),
        col("mean_rec_pop_pr"))
  }

  /** #19ab local bridges of the co-purchase graph (Granovetter's weak
    * ties): edges whose endpoints share NO other neighbor — removing
    * one lengthens its endpoints' connection to ≥ 3 hops, so these are
    * the ties that carry information BETWEEN communities (every
    * within-community edge closes a triangle). Computed as an
    * anti-join of the edge list against the two-hop common-neighbor
    * pair set — the complement of the triangle query, same join
    * shapes — with endpoint degrees as the weak-tie readout. */
  def graphBridges(s: SparkSession, dir: String): DataFrame = {
    val e = coocPairs(s, dir).select(col("item_a").as("a"), col("item_b").as("b"))
    val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy("a").agg(count(lit(1)).as("deg"))
    val twoHop = sym.select(col("a").as("a"), col("b").as("w"))
      .join(sym.select(col("a").as("w"), col("b").as("b2")), "w")
      .select(col("a"), col("b2").as("b"))
      .filter(col("a") < col("b")).distinct()
    e.join(twoHop, Seq("a", "b"), "left_anti")
      .join(deg.select(col("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("a").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a").as("item_a"), col("b").as("item_b"),
        col("deg_a"), col("deg_b"))
      .orderBy("item_a", "item_b")
  }

  /** #19s degree assortativity of the co-purchase graph: Pearson
    * correlation of endpoint degrees over the (directed-both-ways)
    * edge list — positive = hubs link hubs (assortative), negative =
    * hub-and-spoke. The one-number topology screen run before graph
    * algorithms whose cost depends on degree mixing. Zero-variance
    * degenerate graphs emit null rather than NaN. */
  def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val pairs = coocPairs(s, dir).select(col("item_a").as("a"), col("item_b").as("b"))
    val sym = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy("a").agg(count(lit(1)).as("deg"))
    val e = sym
      .join(deg.select(col("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("a").as("b"), col("deg").as("deg_b")), "b")
    e.agg(
        (count(lit(1)) / 2).cast("long").as("n_edges"),
        countDistinct("a").as("n_nodes"),
        stddev_pop("deg_a").as("sa"), stddev_pop("deg_b").as("sb"),
        corr("deg_a", "deg_b").as("r"))
      .select(col("n_nodes"), col("n_edges"),
        when(col("sa") === 0 || col("sb") === 0, lit(null).cast("double"))
          .otherwise(round(col("r"), 6)).as("assortativity"))
  }

  /** Events labeled 0/1 by temporal half (epoch-µs midpoint, integer
    * arithmetic on both engines) — the before/after split the drift
    * screens compare. */
  private def sidedEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    ev.crossJoin(broadcast(mid))
      .withColumn("side", when(col("ts_us") <= col("mid"), 0).otherwise(1))
  }

  /** #5g two-sample KS drift screen ([[graft.ops.Drift.ks]]): early
    * half vs late half of the value distribution per event type. */
  def driftKs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.ks(sidedEvents(s, dir), "event_type", "value", "side")
      .orderBy("event_type")

  /** #5h PSI drift screen ([[graft.ops.Drift.psi]]): 10 equal-width
    * bins, Laplace-smoothed, complete bin grid. */
  def driftPsi(s: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.psi(sidedEvents(s, dir), "event_type", "value", "side", bins = 10)
      .orderBy("event_type")

  /** #5h' PSI drift timeline: the monitoring-table shape of
    * [[driftPsi]] — population-stability index of each DAY's value
    * distribution against the chronologically first day, on one fixed
    * global 10-bin grid with the same 0.5-Laplace smoothing, flagged
    * at the industry 0.2 threshold. [[driftPsi]] answers "did the two
    * halves drift"; this is the per-day series a dashboard actually
    * plots. PSI terms round to integer nano-units before the exact
    * per-day sum, and the drift flag compares integers. */
  def driftTimeline(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      expr("unix_micros(ts) div 86400000000").as("day"), col("value"))
    val b = ev.agg(min("value").as("mn"), max("value").as("mx"),
      min("day").as("d0"))
    val dayBins = ev.crossJoin(broadcast(b))
      .withColumn("bin", when(col("mx") === col("mn"), lit(0L)).otherwise(
        least(floor((col("value") - col("mn")) * 10 / (col("mx") - col("mn"))),
          lit(9L)).cast("long")))
      .groupBy("day", "bin").agg(count(lit(1)).as("c"))
    val ref = dayBins.crossJoin(broadcast(b))
      .filter(col("day") === col("d0"))
      .select(col("bin"), col("c").as("cr"))
    val refTot = ref.agg(sum("cr").as("nr"))
    val dayTot = dayBins.groupBy("day").agg(sum("c").as("nd"))
    val grid = dayTot.select(col("day"), col("nd"),
      explode(sequence(lit(0L), lit(9L))).as("bin"))
    grid.join(dayBins, Seq("day", "bin"), "left")
      .join(broadcast(ref), Seq("bin"), "left")
      .crossJoin(broadcast(refTot))
      .crossJoin(broadcast(b.select("d0")))
      .filter(col("day") =!= col("d0"))
      .withColumn("pd", (coalesce(col("c"), lit(0L)) + 0.5) / (col("nd") + 5.0))
      .withColumn("pr", (coalesce(col("cr"), lit(0L)) + 0.5) / (col("nr") + 5.0))
      .withColumn("t_nn", round((col("pd") - col("pr"))
        * log(col("pd") / col("pr")) * 1000000000L, 0).cast("long"))
      .groupBy("day")
      .agg(max("nd").as("n_events"), sum("t_nn").as("psi_nn"))
      .select(col("day"), col("n_events"),
        round(col("psi_nn") / 1000000000.0, 6).as("psi"),
        (col("psi_nn") >= 200000000L).as("drifted"))
      .orderBy("day")
  }

  /** #37g token-distribution entropy and KL(lang ‖ corpus) per
    * language — the language-balance health check: low entropy flags
    * repetitive sublanguages, high KL flags sublanguages whose token
    * mix diverges from the corpus the sampler targets. */
  def langEntropy(s: SparkSession, dir: String): DataFrame = {
    val lt = Tables.documents(s, dir)
      .select(col("lang"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val perLang = lt.groupBy("lang").agg(sum("c").as("n"))
    val corpus = lt.groupBy("tok").agg(sum("c").as("cc"))
    val tot = corpus.agg(sum("cc").as("tot"))
    lt.join(perLang, "lang").join(corpus, "tok").crossJoin(broadcast(tot))
      .withColumn("pl", col("c").cast("double") / col("n"))
      .withColumn("pc", col("cc").cast("double") / col("tot"))
      .groupBy("lang")
      .agg(max("n").as("n_tokens"),
        round(-sum(col("pl") * log(col("pl"))), 6).as("entropy"),
        round(sum(col("pl") * log(col("pl") / col("pc"))), 6).as("kl"))
      .orderBy("lang")
  }

  /** #13e customer behavioral twins
    * ([[graft.ops.Cooccur.jaccardBySharedItems]]): Jaccard over shared
    * part sets through the orders bipartite graph, hot parts capped at
    * df ≤ 20 before pairing. */
  def userOverlap(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.orders(s, dir).select(col("o_custkey").as("u"), col("o_orderkey"))
      .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
    graft.ops.Cooccur.jaccardBySharedItems(ui, "u", "l_partkey",
        maxItemDf = 20, minShared = 2L)
      .orderBy("entity_a", "entity_b")
  }

  /** #31c conversion attribution: every purchase attributed to its
    * session's first touch (first event type by session order) and
    * last touch (the immediately preceding event, 'direct' when the
    * purchase opens the session). Sessions are the same 30-minute-gap
    * assignment as `sessionize`. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = graft.ops.Sessionize.assign(
        Tables.events(s, dir), "user_id", "ts", 30L * 60 * 1000000, "event_id")
      .withColumn("tsu", unix_micros(col("ts")))
    val w = Window.partitionBy("user_id", "session_idx")
      .orderBy(col("tsu"), col("event_id"))
    sess
      .withColumn("first_touch", first("event_type").over(w))
      .withColumn("last_touch",
        coalesce(lag("event_type", 1).over(w), lit("direct")))
      .filter(col("event_type") === "purchase")
      .groupBy("first_touch", "last_touch")
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy("first_touch", "last_touch")
  }

  /** #31h bounce rate by entry channel — per gap session: the entry
    * event type and whether the session ended there (one event). All
    * tallies exact integers over the session aggregate; one display
    * division per channel. */
  def sessionBounce(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = graft.ops.Sessionize.assign(
        Tables.events(s, dir), "user_id", "ts", 30L * 60 * 1000000, "event_id")
      .withColumn("tsu", unix_micros(col("ts")))
    val w = Window.partitionBy("user_id", "session_idx")
      .orderBy(col("tsu"), col("event_id"))
    sess.withColumn("entry", first("event_type").over(w))
      .groupBy("user_id", "session_idx", "entry")
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("entry").as("entry_channel"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_rate",
        expr("round(cast(n_bounces as double)/n_sessions, 6)"))
      .orderBy("entry_channel")
  }

  /** #31c' positional (U-shaped) attribution over gap sessions — the
    * 40/20/40 rule completing the first/last/Markov/Shapley family:
    * per conversion the first pre-purchase touch takes 4000 bp, the
    * last 4000, middles split 2000 integer-exactly (the division
    * remainder is pinned to the FIRST touch so every conversion's
    * credits sum to exactly 10000); one- and two-touch paths collapse
    * to 10000 and 5000/5000; pathless purchases credit 'direct'. The
    * per-conversion path walk is a session-bounded pair join. */
  def attributionPosition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = graft.ops.Sessionize.assign(
        Tables.events(s, dir), "user_id", "ts", 30L * 60 * 1000000, "event_id")
      .withColumn("tsu", unix_micros(col("ts")))
      .select("user_id", "session_idx", "tsu", "event_id", "event_type")
    val conv = sess.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("session_idx"),
        col("tsu").as("ctsu"), col("event_id").as("cid"))
    val touches = conv.join(sess, Seq("user_id", "session_idx"))
      .filter(col("tsu") < col("ctsu") ||
        (col("tsu") === col("ctsu") && col("event_id") < col("cid")))
    val wp = Window.partitionBy("user_id", "session_idx", "cid")
    val credited = touches
      .withColumn("rk", row_number().over(wp.orderBy(col("tsu"), col("event_id"))))
      .withColumn("m", count(lit(1)).over(wp))
      .withColumn("bp", expr(
        """case when m = 1 then 10000
          | when rk = 1 and m = 2 then 5000
          | when rk = m and m = 2 then 5000
          | when rk = 1 then 4000 + 2000 % (m - 2)
          | when rk = m then 4000
          | else 2000 div (m - 2) end""".stripMargin))
      .select(col("event_type").as("channel"), col("bp").cast("long").as("bp"))
    val direct = conv.join(sess,
        conv("user_id") === sess("user_id")
          && conv("session_idx") === sess("session_idx")
          && (sess("tsu") < conv("ctsu") ||
            (sess("tsu") === conv("ctsu") && sess("event_id") < conv("cid"))),
        "left_anti")
      .select(lit("direct").as("channel"), lit(10000L).as("bp"))
    credited.unionAll(direct)
      .groupBy("channel")
      .agg(count(lit(1)).as("n_credits"), sum("bp").as("bp_total"),
        round(sum("bp") / 10000.0, 6).as("conversions_credited"))
      .orderBy("channel")
  }

  /** #7c' trailing-7-day distinct users per day: the retention-scale
    * rolling reach metric. Exact distinct over a day-grain range join —
    * the (day, user) dedup happens FIRST, so the join fans out at most
    * 7 × distinct-daily-actives, never 7 × raw events. */
  def rollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      .distinct()
    val days = du.select("day").distinct()
    days.as("d")
      .join(du.as("x"), col("x.day").between(col("d.day") - 6, col("d.day")))
      .groupBy(col("d.day").as("day"))
      .agg(countDistinct("x.user_id").as("n_users_7d"))
      .orderBy("day")
  }

  /** #7'' HLL-sketched trailing-7-day distinct users — the scale path
    * for [[rollingDistinct]]: per-day sketches (fixed KBs) merge across
    * the window instead of re-shuffling raw (day, user) pairs, so a
    * year of 100 TB days rolls up from 365 sketch rows. The exact side
    * rides along and the emitted contract is the audit: every day's
    * estimate within 5% (HLL++ at default precision is ~1.6%). */
  def rollingHll(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
    val daily = du.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val est = daily.select("day").as("d")
      .join(daily.as("x"), col("x.day").between(col("d.day") - 6, col("d.day")))
      .groupBy(col("d.day").as("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("x.sk"))).as("est"))
    // exact side identical to rolling_distinct
    val exactRoll = {
      val pairs = du.distinct()
      pairs.select("day").distinct().as("dd")
        .join(pairs.as("xx"), col("xx.day").between(col("dd.day") - 6, col("dd.day")))
        .groupBy(col("dd.day").as("day"))
        .agg(countDistinct("xx.user_id").as("n_users_7d"))
    }
    est.join(exactRoll, "day")
      .select(col("day"), col("n_users_7d"),
        (abs(col("est") - col("n_users_7d"))
          <= col("n_users_7d") * 0.05).as("within_bound"))
      .orderBy("day")
  }

  /** #5i per-key debouncing audit ([[graft.ops.Debounce.flag]]): the
    * events dropped for repeating within an hour of the previous
    * same-(user, type) event, with the offending gap. */
  def eventsDebounce(s: SparkSession, dir: String): DataFrame =
    graft.ops.Debounce.flag(Tables.events(s, dir),
        Seq("user_id", "event_type"), "ts", "event_id", 3600L * 1000000)
      .filter(!col("kept"))
      .select("event_id", "user_id", "event_type", "gap_us")
      .orderBy("event_id")

  /** #5j CUSUM changepoint screen over the hourly rate series per
    * type: running sum of deviations from the series mean; the max
    * |S| and the hour attaining it (first on exact float ties — the
    * running sum is order-deterministic, so both engines see identical
    * doubles). */
  def eventsCusum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
      .agg(count(lit(1)).cast("double").as("c"))
    val whole = Window.partitionBy("event_type")
    val run = Window.partitionBy("event_type").orderBy("hour_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pick = Window.partitionBy("event_type")
      .orderBy(abs(col("s")).desc, col("hour_us"))
    hourly
      .withColumn("mu", avg("c").over(whole))
      .withColumn("s", sum(col("c") - col("mu")).over(run))
      .withColumn("rk", row_number().over(pick))
      .withColumn("n_hours", count(lit(1)).over(whole))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n_hours"),
        round(abs(col("s")), 6).as("cusum_max"), col("hour_us").as("peak_hour_us"))
      .orderBy("event_type")
  }

  /** #40c reciprocal-rank fusion of the BM25 and TF-IDF top-10 lists
    * for the same query — the standard no-tuning rank combiner
    * (Cormack et al. 2009): rrf = Σ_lists 1/(60 + rank). Both input
    * rankings are themselves hash-oracled queries, so the fusion is
    * exactly mirrorable. */
  /** #40e rank-biased overlap (Webber 2010, truncated at k=10,
    * p=0.9) between the BM25 and TF-IDF top-10 lists for the same
    * query — the top-weighted list-agreement score RRF fusion doesn't
    * report: how much do the two retrieval models even agree? Each
    * doc in both lists contributes Σ_{d≥max(rank_a,rank_b)}
    * (1−p)·p^(d−1)/d — the pairwise reformulation that needs no
    * per-depth set intersection. */
  def searchRbo(s: SparkSession, dir: String): DataFrame = {
    val bm = rankedSearchList(s, dir, "bm25").select(col("doc_id"), col("rk").as("ra"))
    val tf = rankedSearchList(s, dir, "tfidf").select(col("doc_id"), col("rk").as("rb"))
    val pairs = bm.join(tf, "doc_id")
      .withColumn("m", greatest(col("ra"), col("rb")))
    val depth = s.range(1, 11).select(col("id").as("d"))
    pairs.join(broadcast(depth), col("d") >= col("m"))
      .withColumn("wt", lit(0.1) * pow(lit(0.9), col("d") - 1) / col("d"))
      .agg(countDistinct("doc_id").as("n_overlap10"),
        round(sum("wt"), 6).as("rbo"))
  }

  /** #18b bag-of-words dedup — catches the reorder/shuffle duplicates
    * exact content-hash dedup ([[dedupExact]]) is blind to: the
    * canonical key is the SORTED token multiset. Planted copies with
    * reversed word order (doc_id + 2·10⁶) must all collapse onto their
    * bases; keeper election is min(doc_id) — every step an exact
    * string/integer operation. */
  def dedupBag(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val corpus = docs.unionAll(docs.select(
      (col("doc_id") + 2000000).as("doc_id"),
      expr("array_join(reverse(regexp_extract_all(lower(text), '[a-z]+', 0)), ' ')")
        .as("text")))
    corpus
      .withColumn("bag",
        expr("array_join(array_sort(regexp_extract_all(lower(text), '[a-z]+', 0)), ' ')"))
      .groupBy(md5(col("bag")).as("bag_md5"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
      .filter(col("n_docs") >= 2)
      .select("keeper", "n_docs", "bag_md5")
      .orderBy("keeper")
  }

  /** #49e term burstiness (Church-Gale): cf/df per term — "when this
    * word appears, how hard does it repeat" — the signal separating
    * topical content words (bursty) from function words (cf ≈ df) that
    * pure frequency ranks conflate. Exact integer cf/df tallies over
    * one token scan; top-20 by the 6-dp-rounded ratio with a term
    * tie-break (round-then-rank), df ≥ 20 support gate. */
  def termBurstiness(s: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"), explode(LanguageModel.tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("c"))
    occ.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("c").as("cf"))
      .filter(col("df") >= 20L)
      .withColumn("burstiness", expr("round(cast(cf as double)/df, 6)"))
      .orderBy(col("burstiness").desc, col("term"))
      .limit(20)
  }

  /** #3m newsvendor stocking level per part — the service-level
    * quantile inventory planning actually orders against: the smallest
    * weekly demand q* covering ≥ 80% of weeks, with ZERO-demand weeks
    * counted over the global week horizon (skipping them overstocks
    * slow movers). The pick is a pure integer order statistic: target
    * rank ceil(0.8·W) shifted past the implicit zero block, elected by
    * (demand, week) row_number over the per-part weekly rollup. */
  def newsvendorStock(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        expr("datediff(l_shipdate, date'1970-01-01') div 7").as("wk"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("l_partkey", "wk").agg(sum("q").as("d"))
    val horizon = weekly.select("wk").distinct().agg(count(lit(1)).as("w"))
    val ranked = weekly.withColumn("rn", row_number().over(
      Window.partitionBy("l_partkey").orderBy("d", "wk")))
    val sizes = weekly.groupBy("l_partkey").agg(count(lit(1)).as("n_active"))
    ranked.join(sizes, "l_partkey")
      .crossJoin(broadcast(horizon))
      .withColumn("target", expr("(4*w + 4) div 5 - (w - n_active)"))
      .groupBy("l_partkey", "n_active", "w")
      .agg(coalesce(max(when(col("rn") === col("target"), col("d"))), lit(0L))
        .as("stock_qty"))
      .select(col("l_partkey"), col("n_active").as("n_active_weeks"),
        col("w").as("n_weeks"), col("stock_qty"))
      .orderBy("l_partkey")
  }

  /** #43g Chao1 vocabulary-richness estimate + Good-Turing unseen
    * mass — "how much vocabulary has this corpus NOT shown yet", the
    * coverage readout behind deciding whether more data changes the
    * tokenizer: chao1 = V + f₁(f₁−1)/(2(f₂+1)) (bias-corrected, defined
    * at f₂ = 0) and P(unseen) = f₁/N from the frequency-of-frequencies
    * — all exact integer tallies, two display divisions. */
  def vocabChao1(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(LanguageModel.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    freq.agg(count(lit(1)).as("v_obs"), sum("n").as("n_tokens"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("n") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("v_obs"), col("n_tokens"), col("f1"), col("f2"),
        expr("round(v_obs + cast(f1 as double)*(f1 - 1)/(2*(f2 + 1)), 6)")
          .as("chao1"),
        expr("round(cast(f1 as double)/n_tokens, 6)").as("p_unseen"))
  }

  /** #49d Dice-coefficient collocation mining over adjacent token
    * bigrams — the symmetric, count-bounded alternative to
    * [[tokenPmi]] (PMI over-rewards rare pairs; Dice = 2·c(ab)/(c(a)+
    * c(b)) cannot exceed 1): top-20 collocations above the c(ab) ≥ 5
    * support gate, ranked by the 6-dp-rounded score with a (wa, wb)
    * tie-break — round-then-rank, all counts exact integers. */
  def tokenDice(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bg = docs.select(explode(LanguageModel.bigrams(col("text"))).as("bg"))
      .groupBy(col("bg.a").as("wa"), col("bg.b").as("wb"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5L)
    val uni = docs.select(explode(LanguageModel.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    bg.join(uni.select(col("tok").as("wa"), col("c").as("c_a")), "wa")
      .join(uni.select(col("tok").as("wb"), col("c").as("c_b")), "wb")
      .withColumn("dice", expr("round(cast(2*c_ab as double)/(c_a + c_b), 6)"))
      .select("wa", "wb", "c_ab", "c_a", "c_b", "dice")
      .orderBy(col("dice").desc, col("wa"), col("wb"))
      .limit(20)
  }

  /** #40f Kendall tau-a between the BM25 and TF-IDF top-10 rankings —
    * the pairwise-agreement companion to [[searchRbo]] (top-weighted)
    * and [[searchRrf]] (fusion): over documents BOTH rankers retrieve,
    * count concordant vs discordant rank pairs. Ranks are distinct
    * row_numbers so no tie terms enter; C, D, and the m(m−1)/2 pair
    * count are exact integers from a k²-bounded broadcast self-join,
    * and tau divides once at display (NULL below two common docs). */
  def searchTau(s: SparkSession, dir: String): DataFrame = {
    val bm = rankedSearchList(s, dir, "bm25").select(col("doc_id"), col("rk").as("ra"))
    val tf = rankedSearchList(s, dir, "tfidf").select(col("doc_id"), col("rk").as("rb"))
    val common = bm.join(tf, "doc_id")
    val other = common.select(col("doc_id").as("id2"),
      col("ra").as("ra2"), col("rb").as("rb2"))
    val pairs = common.join(broadcast(other), col("doc_id") < col("id2"))
      .withColumn("sgn", (col("ra") - col("ra2")) * (col("rb") - col("rb2")))
    val m = common.agg(count(lit(1)).as("n_common"))
    pairs.agg(
        sum(when(col("sgn") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("sgn") < 0, 1L).otherwise(0L)).as("discordant"))
      .crossJoin(broadcast(m))
      .select(col("n_common"), col("concordant"), col("discordant"),
        expr("""case when n_common > 1 then
          round(cast(2*(concordant - discordant) as double)
            /(n_common*(n_common - 1)), 6) end""").as("tau"))
  }

  /** #40g expected reciprocal rank at 10 of the BM25 ranking — the
    * cascade-model metric (Chapelle et al.) where a reader stops at
    * the first satisfying result: ERR = Σᵣ (1/r)·Rᵣ·Π_{i<r}(1−R_i),
    * with graded relevance g = min(3, n_chars/150) and R = (2^g−1)/8.
    * Every stop probability is a rational with numerator in {0,1,3,7}
    * over 8, so the continue-product is the EXACT integer
    * 5^b·7^c·8^d (b,c,d = window counts of each factor among earlier
    * ranks, looked up from pinned power tables — no library pow), and
    * each rank's term rounds to nano units pre-sum. The windows walk
    * the 10-row list. */
  def evalErr(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val list = rankedSearchList(s, dir, "bm25")
      .select(col("doc_id"), col("rk").as("r"))
      .join(docs.select("doc_id", "n_chars"), "doc_id")
      .withColumn("g", expr("least(3, n_chars div 150)"))
      .withColumn("num", expr("cast(case g when 0 then 0 when 1 then 1 when 2 then 3 else 7 end as bigint)"))
      .withColumn("f", lit(8L) - col("num"))
    val pow5 = "case cb when 0 then 1 when 1 then 5 when 2 then 25 when 3 then 125 when 4 then 625 when 5 then 3125 when 6 then 15625 when 7 then 78125 when 8 then 390625 else 1953125 end"
    val pow7 = "case cc when 0 then 1 when 1 then 7 when 2 then 49 when 3 then 343 when 4 then 2401 when 5 then 16807 when 6 then 117649 when 7 then 823543 when 8 then 5764801 else 40353607 end"
    val pow8 = "case cd when 0 then 1 when 1 then 8 when 2 then 64 when 3 then 512 when 4 then 4096 when 5 then 32768 when 6 then 262144 when 7 then 2097152 when 8 then 16777216 else 134217728 end"
    val pow8r = "case r when 1 then 8 when 2 then 64 when 3 then 512 when 4 then 4096 when 5 then 32768 when 6 then 262144 when 7 then 2097152 when 8 then 16777216 when 9 then 134217728 else 1073741824 end"
    // Earlier-rank factor counts via the same k²-bounded broadcast
    // strictly-ahead join [[rankTopList]] uses — no window at all, so
    // nothing unpartitioned can ever see the (joined) relation side.
    val ahead = list.select(col("r").as("r2"), col("f").as("f2"))
    list.join(broadcast(ahead), col("r2") < col("r"), "left")
      .groupBy("doc_id", "r", "num")
      .agg(
        sum(when(col("f2") === 5L, 1L).otherwise(0L)).as("cb"),
        sum(when(col("f2") === 7L, 1L).otherwise(0L)).as("cc"),
        sum(when(col("f2") === 8L, 1L).otherwise(0L)).as("cd"))
      .withColumn("pnum", expr(s"cast($pow5 as bigint) * ($pow7) * ($pow8)"))
      .withColumn("term_nano", expr(
        s"cast(round(cast(num*pnum as double)/(cast($pow8r as double)*r)*1e9) as bigint)"))
      .agg(count(lit(1)).as("n_results"), sum("num").as("sum_gain"),
        sum("term_nano").as("st"))
      .select(col("n_results"), col("sum_gain"),
        expr("round(st/1e9, 6)").as("err"))
  }

  /** Rank a k-bounded retrieval list by (score desc, doc_id) via a
    * broadcast strictly-ahead count — the list is already `.limit(k)`
    * output (k ≤ 10 rows at any corpus size), so a k² theta-join
    * replaces the unpartitioned ranking window without any scale
    * term. */
  private def rankTopList(list: DataFrame, outCol: String): DataFrame = {
    val ahead = list.select(col("doc_id").as("a_id"), col("score").as("a_score"))
    list.join(broadcast(ahead),
        col("a_score") > col("score") ||
          (col("a_score") === col("score") && col("a_id") < col("doc_id")),
        "left")
      .groupBy(list.columns.map(col): _*)
      .agg((count("a_id") + 1).as(outCol))
  }

  private val searchListCache = new Memo[DataFrame]

  /** Memoized rank-10 retrieval lists for the pinned three-term query
    * ("vector", "key", "dup") shared by the rank-fusion / rank-metric
    * queries (search_tau, search_rbo, search_rrf, eval_err): one BM25
    * and one TF-IDF scoring pass per (session, dir) instead of one per
    * consumer — the serve-many shape of a real evaluation harness. The
    * `rk` rank is (score desc, doc_id), identical to the per-consumer
    * rankTopList calls it replaces (scores are 6-dp-rounded and
    * deterministic, so the election is too). Timed as
    * `_mat_search_lists` in the bench. */
  private[graft] def rankedSearchList(
      s: SparkSession, dir: String, kind: String): DataFrame = {
    // Fail a typo loudly instead of silently serving the tfidf ranking.
    require(kind == "bm25" || kind == "tfidf", s"unknown ranking kind: $kind")
    searchListCache(s, (dir, kind)) {
      val docs = Tables.documents(s, dir)
      val q = Seq("vector", "key", "dup")
      val base =
        if (kind == "bm25") TextAnalysis.bm25Search(docs, "text", "doc_id", q, 10)
        else TextAnalysis.tfidfSearch(docs, "text", "doc_id", q, 10)
      rankTopList(base, "rk").transform(Tables.checkpoint)
    }
  }

  def searchRrf(s: SparkSession, dir: String): DataFrame = {
    val bm = rankedSearchList(s, dir, "bm25").select(col("doc_id"), col("rk").as("rk_bm"))
    val tf = rankedSearchList(s, dir, "tfidf").select(col("doc_id"), col("rk").as("rk_tf"))
    bm.join(tf, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("rk_bm")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("rk_tf")), lit(0.0)), 6))
      .withColumn("n_lists",
        (col("rk_bm").isNotNull.cast("int") + col("rk_tf").isNotNull.cast("int"))
          .cast("long"))
      .select("doc_id", "rrf", "n_lists")
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** #7d time-spine gap filling: the complete hourly grid per event
    * type (absent hours surface as zero-count rows) with the last
    * observed hourly mean carried forward — the series repair step
    * before any rate model sees the data. The spine is a generated
    * sequence per type (calendar-bounded), never a scan product. */
  def eventsGapfill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
      .agg(count(lit(1)).as("n_events"), round(avg("value"), 6).as("avg_value"))
    val bounds = hourly.agg(min("hour_us").as("mn"), max("hour_us").as("mx"))
    val spine = hourly.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"), lit(3600000000L))).as("hour_us"))
    val w = Window.partitionBy("event_type").orderBy("hour_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hour_us"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("value_ffill", last("avg_value", ignoreNulls = true).over(w))
      .select("event_type", "hour_us", "n_events", "value_ffill")
      .orderBy("event_type", "hour_us")
  }

  /** #4b Pareto contribution analysis: parts ranked by revenue with
    * cumulative share and the 80%-coverage flag. Money goes through
    * exact integer cents (`round(price·(1−disc)·100)`), so ranks,
    * running sums and the flag are integer-deterministic; the ranking
    * runs over AGGREGATED catalog rows (one per part), and the rank +
    * running sum come from [[ChronoSplit.withOrderStats]]' bucketed
    * windows — part cardinality is entity-scale (web catalogs reach
    * billions), so even the aggregated ranking must not sort in one
    * task. DESC order = ascending on the negated key. */
  def paretoParts(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long"))
      .groupBy("l_partkey").agg(sum("cents").as("cents"))
    val tot = rev.agg(sum("cents").as("tot"))
    ChronoSplit
      .withOrderStats(rev.withColumn("neg_cents", -col("cents")),
        "neg_cents", "l_partkey", sumCols = Seq("cents"))
      .withColumnRenamed(ChronoSplit.RankCol, "rk")
      .withColumnRenamed(ChronoSplit.cumCol("cents"), "cum")
      .crossJoin(broadcast(tot))
      .select(col("l_partkey"), round(col("cents") / 100.0, 2).as("revenue"),
        col("rk"), round(col("cum").cast("double") / col("tot"), 6).as("cum_share"),
        ((col("cum") - col("cents")).cast("double") / col("tot") < 0.8)
          .as("in_top80"))
      .orderBy("rk")
  }

  /** #4c monthly revenue with MoM and YoY growth: the calendar rollup
    * every revenue dashboard starts from. Integer cents again; the
    * month axis is calendar-bounded (~84 rows), so the lag window's
    * single partition is a constant, not a scale term. */
  def revenueGrowth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables.orders(s, dir)
      .withColumn("month",
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long"))
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .groupBy("month").agg(sum("cents").as("cents"))
    val w = Window.orderBy("month")
    m.withColumn("prev", lag("cents", 1).over(w))
      .withColumn("prev12", lag("cents", 12).over(w))
      .select(col("month"), round(col("cents") / 100.0, 2).as("revenue"),
        round(col("cents").cast("double") / col("prev") - 1, 6).as("mom"),
        round(col("cents").cast("double") / col("prev12") - 1, 6).as("yoy"))
      .orderBy("month")
  }

  /** The numeric lineitem columns the data-quality profile covers —
    * shared by the Spark query and the generated oracle SQL. */
  private val ProfileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** #1b per-column data-quality profile of the fact table: row count,
    * null count, exact distinct count and numeric min/max for every
    * numeric lineitem column — the contract check a pipeline runs
    * before trusting a new data drop. One pass over the scan (the
    * multi-`countDistinct` expand is the price of exactness; a 100-TB
    * profile would swap in HLL per column, the audited-sketch path). */
  def profileTable(s: SparkSession, dir: String): DataFrame = {
    // The multi-countDistinct aggregate expands every row ×|ProfileCols|
    // before the partial aggregation — CPU-dense narrow work that would
    // otherwise run on the single split the sf scans arrive as (fanOut:
    // no-op on a wide at-scale scan). Aggregates are order-independent.
    val li = Tables.fanOut(Tables.lineitem(s, dir))
    val aggs = count(lit(1)).as("n_rows") +: ProfileCols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
      countDistinct(col(c)).as(s"${c}__nd"),
      min(col(c)).cast("double").as(s"${c}__mn"),
      max(col(c)).cast("double").as(s"${c}__mx")))
    li.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(ProfileCols.map(c => struct(
        lit(c).as("col_name"), col("n_rows"),
        col(s"${c}__nn").as("n_null"), col(s"${c}__nd").as("n_distinct"),
        round(col(s"${c}__mn"), 6).as("min_val"),
        round(col(s"${c}__mx"), 6).as("max_val"))): _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** The FK edges the referential-integrity audit walks:
    * (edge label, fact table, fk col, dim table, pk col, broadcastable).
    * `orders` is fact-sized, so its PK side shuffles; the rest ride a
    * broadcast anti-join. */
  private val RiEdges = Seq(
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey", true),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", false),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey", true),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", true),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey", true),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey", true))

  /** #1c referential-integrity audit: for every FK edge of the star
    * schema, the fact row count and the number of orphan rows whose key
    * misses the referenced table (anti-join). All-zero orphans is the
    * expected steady state — the query is the alarm, not the answer. */
  def riOrphans(s: SparkSession, dir: String): DataFrame = {
    def table(n: String): DataFrame = Tables(s, dir, n)
    RiEdges.map { case (label, fkT, fk, pkT, pk, bc) =>
      val fact = table(fkT)
      val dim0 = table(pkT).select(col(pk))
      val dim = if (bc) broadcast(dim0) else dim0
      val orphans = fact.join(dim, col(fk) === col(pk), "left_anti")
      fact.agg(count(lit(1)).as("fk_rows"))
        .crossJoin(orphans.agg(count(lit(1)).as("orphans")))
        .select(lit(label).as("edge"), col("fk_rows"), col("orphans"))
    }.reduce(_ unionAll _).orderBy("edge")
  }

  /** #4d RFM segmentation: per customer, recency (days since last
    * order, vs the corpus max date), frequency (order count) and
    * monetary (exact-cents lifetime spend), each coded into quartiles
    * by `ntile(4)` with a custkey tiebreak on BOTH engines (ntile's
    * bucket boundaries depend on the total order). The quartile windows
    * run over the AGGREGATED one-row-per-customer table — at 100 TB the
    * coding would switch to precomputed approx-quantile cutpoints to
    * avoid the global sort. */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
    val ref = o.agg(max("o_orderdate").as("refd"))
    val base = o.groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_order"),
        count(lit(1)).as("n_orders"), sum("cents").as("cents"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days", datediff(col("refd"), col("last_order")).cast("long"))
      // Each of the three ntile codings makes two passes over its input
      // (quantile probe + bucket aggregate); materialize the per-customer
      // rollup once instead of re-running the orders aggregation ~6×.
      .transform(Tables.checkpoint)
    // Three exact quartile codings via ChronoSplit.withNtile (bucketed
    // ranks + the integer ntile formula) — customers are entity-scale,
    // so none of the three orderings may sort in one task; DESC
    // orderings go through negated derived keys.
    val coded = ChronoSplit.withNtile(
      ChronoSplit.withNtile(
        ChronoSplit.withNtile(
          base.withColumn("neg_f", -col("n_orders"))
            .withColumn("neg_m", -col("cents")),
          "recency_days", "o_custkey", 4, "r"),
        "neg_f", "o_custkey", 4, "f"),
      "neg_m", "o_custkey", 4, "m")
    coded
      .select(col("o_custkey"), col("recency_days"), col("n_orders"),
        round(col("cents") / 100.0, 2).as("monetary"),
        col("r"), col("f"), col("m"),
        (col("r") * 100 + col("f") * 10 + col("m")).as("segment"))
      .orderBy("o_custkey")
  }

  /** #4e Benford first-digit screen over order totals: observed
    * first-significant-digit shares vs the Benford expectation
    * log10(1+1/d), with the per-digit chi-square contribution — the
    * classic fabricated-data smell test. The digit comes from the
    * decimal string of exact integer cents (long-to-string is
    * bit-identical across engines; float log10 near powers of ten is
    * not), and the unit choice doesn't matter because Benford is
    * scale-invariant. */
  def benfordRevenue(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .withColumn("digit",
        substring(round(col("o_totalprice") * 100, 0).cast("long").cast("string"),
          1, 1).cast("long"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("tot"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share", col("n").cast("double") / col("tot"))
      .withColumn("benford_p", log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)))
      .select(col("digit"), col("n"), round(col("share"), 6).as("share"),
        round(col("benford_p"), 6).as("benford_p"),
        round(pow(col("share") - col("benford_p"), 2) / col("benford_p")
          * col("tot"), 6).as("chi2_term"))
      .orderBy("digit")
  }

  /** #4e' Benford SECOND-digit screen of revenue — the forensic
    * follow-up when the first-digit test passes (fabricators who know
    * Benford's first-digit law rarely match the second): observed
    * second-digit shares of the exact integer cents vs the marginal
    * P(d₂) = Σ_{d₁} log₁₀(1 + 1/(10d₁+d₂)), with the same per-digit
    * chi-square terms as [[benfordRevenue]]. Amounts below two digits
    * are outside the test and excluded identically on both sides. */
  def benfordDigit2(s: SparkSession, dir: String): DataFrame = {
    val cents = Tables.orders(s, dir)
      .withColumn("c", round(col("o_totalprice") * 100, 0).cast("long"))
      .filter(col("c") >= 10L)
      .withColumn("digit",
        substring(col("c").cast("string"), 2, 1).cast("long"))
    val counts = cents.groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("tot"))
    // P(d2) as a sum of nine log10 terms — ln-ratio chains, identical
    // both engines.
    val p2 = (1 to 9).map(d1 =>
      s"ln(1.0 + 1.0/(${10 * d1} + digit))/ln(10.0)").mkString(" + ")
    counts.crossJoin(broadcast(tot))
      .withColumn("share", col("n").cast("double") / col("tot"))
      .withColumn("benford_p", expr(p2))
      .select(col("digit"), col("n"), round(col("share"), 6).as("share"),
        round(col("benford_p"), 6).as("benford_p"),
        expr("""round((share - benford_p)*(share - benford_p)/benford_p*tot, 6)""")
          .as("chi2_term"))
      .orderBy("digit")
  }

  /** #5k deterministic A/B split + Welch t-test per event type: users
    * hash into two arms by the shared [[arithHash]] (the same
    * arithmetic the sampling oracles mirror), then the value means are
    * compared with the unequal-variance t statistic — the experiment
    * readout step of an event pipeline. Null is true by construction
    * (the split is orthogonal to value), so t should hover near 0. */
  def abTtest(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .withColumn("variant",
        when(pmod(arithHash(col("user_id"), 13L), lit(1000000L)) < 500000L, 0L)
          .otherwise(1L))
      .groupBy("event_type", "variant")
      .agg(count(lit(1)).as("n"), avg("value").as("mean"), var_samp("value").as("vr"))
    val a = g.filter(col("variant") === 0).select(col("event_type"),
      col("n").as("n_a"), col("mean").as("mean_a"), col("vr").as("var_a"))
    val b = g.filter(col("variant") === 1).select(col("event_type"),
      col("n").as("n_b"), col("mean").as("mean_b"), col("vr").as("var_b"))
    a.join(b, "event_type")
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_a"), round(col("mean_b"), 6).as("mean_b"),
        round((col("mean_b") - col("mean_a"))
          / sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 6)
          .as("t_stat"))
      .orderBy("event_type")
  }

  /** #5t Mann-Whitney U rank-sum test per event type — the
    * non-parametric sibling of [[abTtest]] over the same deterministic
    * A/B hash split: distribution-free, so it catches median shifts the
    * t-test misses under heavy tails. Rank bookkeeping is EXACT
    * integer arithmetic: ties share competition rank r over a run of t
    * equal values, so twice the average rank is 2r + t − 1 (an
    * integer), making Σ order-independent; 2·U_a = ΣR₂ − n_a(n_a+1)
    * stays integral until the single z-score division. The normal
    * approximation uses the standard tie-corrected variance
    * n_a·n_b/12·((n+1) − Σ(t³−t)/(n(n−1))).
    *
    * Scale shape: one rank sort per event_type partition (a
    * distributed SQL window, not a driver sort) plus two hash
    * aggregations — rank-sum tests at 100 TB would switch the ranking
    * to a merged quantile sketch, but the integer bookkeeping here is
    * exact to ~3·10⁹ rows per type before ΣR₂ nears 2⁶³. */
  def eventsMannWhitney(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        when(pmod(arithHash(col("user_id"), 13L), lit(1000000L)) < 500000L, 0L)
          .otherwise(1L))
      .select("event_type", "variant", "value")
    val ranked = ev
      .withColumn("rnk", rank().over(Window.partitionBy("event_type").orderBy("value")))
      .withColumn("tcnt", count(lit(1)).over(Window.partitionBy("event_type", "value")))
      .withColumn("r2", lit(2L) * col("rnk") + col("tcnt") - lit(1L))
    val g = ranked.groupBy("event_type", "variant")
      .agg(count(lit(1)).as("n"), sum("r2").as("r2sum"))
    val ties = ev.groupBy("event_type", "value").agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
    val a = g.filter(col("variant") === 0)
      .select(col("event_type"), col("n").as("n_a"), col("r2sum").as("r2_a"))
    val b = g.filter(col("variant") === 1)
      .select(col("event_type"), col("n").as("n_b"))
    a.join(b, "event_type").join(ties, "event_type")
      .withColumn("nn", col("n_a") + col("n_b"))
      .withColumn("u2", col("r2_a") - col("n_a") * (col("n_a") + 1)) // = 2·U_a, exact
      .withColumn("sigma",
        sqrt(col("n_a").cast("double") * col("n_b") / 12.0 *
          ((col("nn") + 1).cast("double")
            - col("tie3").cast("double") / (col("nn") * (col("nn") - 1)))))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("u2").cast("double") / 2, 6).as("u_a"),
        round((col("u2") - col("n_a") * col("n_b")).cast("double")
          / (lit(2.0) * col("sigma")), 6).as("z"))
      .orderBy("event_type")
  }

  /** #5u Poisson-bootstrap confidence band for the per-type mean value
    * — THE bootstrap that works at 100 TB (each row's multiplicity in
    * resample b is an independent Poisson(1) draw, so resampling never
    * needs the global n or a second pass; one map-side explode ×B and
    * one aggregation). Fully deterministic: the uniform draw is the
    * same integer multiplicative hash as the A/B split keyed by
    * (event_id, b), inverted through the exact Poisson(1) CDF as
    * INTEGER thresholds on the 10⁶-scaled draw (⌊10⁶·e⁻¹Σ1/k!⌋, capped
    * at 6 — P(K>6) ≈ 8·10⁻⁵); values ride as exact micro-units so the
    * per-resample sums are order-independent, and the B=100 resample
    * means hit a single division each. The CI is the exact p5/p95 order
    * statistic over the 100 means. */
  def evalBootstrap(s: SparkSession, dir: String): DataFrame = {
    val b = 100
    // The ×100 resample explode plus the pmod/CASE chains and the fused
    // partial aggregation are CPU-dense narrow work on a single-split
    // events scan — spread the pre-explode rows first (fanOut: no-op on
    // a wide at-scale scan; the aggregation is order-independent).
    val ev = Tables.fanOut(Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 1000000L).cast("long").as("vmicro")))
      .withColumn("b", explode(sequence(lit(0), lit(b - 1))))
      // uniform draw in [0, 1e6), keyed by (event_id, resample)
      .withColumn("u",
        pmod(pmod(col("event_id"), lit(1000000L)) * lit(2654435761L)
          + col("b") * lit(97L) + lit(13L), lit(1000000L)))
      .withColumn("m", // Poisson(1) inverse CDF, integer thresholds
        when(col("u") < 367879L, 0L).when(col("u") < 735759L, 1L)
          .when(col("u") < 919699L, 2L).when(col("u") < 981012L, 3L)
          .when(col("u") < 996340L, 4L).when(col("u") < 999406L, 5L)
          .otherwise(6L))
    val means = ev.groupBy("event_type", "b")
      .agg(when(sum("m") > 0, sum(col("m") * col("vmicro")).cast("double")
        / (sum("m") * lit(1000000.0))).as("mean_b"))
    means.groupBy("event_type")
      .agg(count(lit(1)).as("n_resamples"),
        round(expr("percentile(mean_b, 0.05)"), 6).as("ci_lo"),
        round(expr("percentile(mean_b, 0.5)"), 6).as("ci_mid"),
        round(expr("percentile(mean_b, 0.95)"), 6).as("ci_hi"))
      .orderBy("event_type")
  }

  /** #5v Wald–Wolfowitz runs test per event type: is the above/below-
    * median sign sequence (in (ts, event_id) order) random, or does the
    * series cluster/alternate? Complements CUSUM (level shifts) and the
    * ACF screen (linear autocorrelation) with a distribution-free
    * serial-dependence check. Runs/sign tallies are exact integers from
    * a lag window; μ = 2n₁n₂/n + 1 and the classic variance hit single
    * double expressions mirrored operation-for-operation in the oracle.
    * Rows equal to the interpolated median are dropped (standard
    * treatment — they have no sign). */
  def eventsRunsTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir).select(col("event_type"), col("event_id"),
      unix_micros(col("ts")).as("tsu"), col("value"))
    val med = ev.groupBy("event_type").agg(expr("percentile(value, 0.5)").as("med"))
    val signed = ev.join(med, "event_type")
      .filter(col("value") =!= col("med"))
      .withColumn("sgn", when(col("value") > col("med"), 1L).otherwise(-1L))
    val w = Window.partitionBy("event_type").orderBy(col("tsu"), col("event_id"))
    signed
      .withColumn("brk",
        when(lag("sgn", 1).over(w).isNull || lag("sgn", 1).over(w) =!= col("sgn"), 1L)
          .otherwise(0L))
      .groupBy("event_type")
      .agg(sum("brk").as("n_runs"),
        sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_below"))
      .withColumn("nn", col("n_above") + col("n_below"))
      .withColumn("mu", lit(2.0) * col("n_above") * col("n_below") / col("nn") + 1.0)
      .withColumn("sigma",
        sqrt(lit(2.0) * col("n_above") * col("n_below")
          * (lit(2.0) * col("n_above") * col("n_below") - col("nn"))
          / (col("nn").cast("double") * col("nn") * (col("nn") - 1))))
      .select(col("event_type"), col("n_runs"), col("n_above"), col("n_below"),
        round((col("n_runs") - col("mu")) / col("sigma"), 6).as("z"))
      .orderBy("event_type")
  }

  /** #1i functional-dependency audit over five declared candidate FDs —
    * the data-profiling step that discovers which "obvious" keys
    * actually determine which attributes before a model trusts them as
    * features (the key-shaped ones — n_nationkey, p_name — must hold;
    * the plausible-looking ones — brand → type — must be caught as
    * violated). One two-level aggregation per FD (distinct-rhs per
    * lhs, then the violation rollup); all counts exact integers. */
  def fdAudit(s: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, lbl: String, lhs: String, rhs: String): DataFrame =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("d"))
        .agg(count(lit(1)).as("n_lhs"),
          sum(when(col("d") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("d")).as("max_rhs"),
          (max(col("d")) === 1).as("holds"))
        .select(lit(lbl).as("fd"), col("n_lhs"), col("n_violating"),
          col("max_rhs"), col("holds"))
    Seq(
      audit(Tables.nation(s, dir), "nation: n_nationkey -> n_regionkey",
        "n_nationkey", "n_regionkey"),
      audit(Tables.part(s, dir), "part: p_name -> p_brand", "p_name", "p_brand"),
      audit(Tables.part(s, dir), "part: p_brand -> p_type", "p_brand", "p_type"),
      audit(Tables.customer(s, dir), "customer: c_nationkey -> c_mktsegment",
        "c_nationkey", "c_mktsegment"),
      audit(Tables.orders(s, dir), "orders: o_custkey -> o_orderpriority",
        "o_custkey", "o_orderpriority"),
      audit(Tables.lineitem(s, dir), "lineitem: l_orderkey -> l_shipdate",
        "l_orderkey", "l_shipdate"))
      .reduce(_ unionAll _).orderBy("fd")
  }

  /** #37k pairwise Pearson correlation matrix over the four lineitem
    * numeric measures, long-form (6 pairs). All six correlations come
    * out of ONE aggregation pass over one scan (partial-agg friendly —
    * the co-moment state is 6 small tuples per partition), then a
    * `stack` unpivot; never 6 separate scans. */
  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield (cols(i), cols(j))
    val aggs = count(lit(1)).as("n") +:
      // `+ 0.0` normalizes IEEE -0.0 after the round (near-zero
      // correlations can round to -0.0 on one engine only — same
      // convention as embCovariance below).
      pairs.map { case (a, b) =>
        (round(corr(col(a), col(b)), 6) + lit(0.0)).as(s"c_${a}_$b") }
    val g = Tables.lineitem(s, dir).agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs
      .map { case (a, b) => s"'$a', '$b', c_${a}_$b" }.mkString(", ")
    g.select(col("n"),
        expr(s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, corr)"))
      .select("col_a", "col_b", "corr", "n")
      .orderBy("col_a", "col_b")
  }

  /** #51b covariance matrix of the embedding space, long-form upper
    * triangle — ONE pass over the vectors through the mergeable
    * EXACT-INTEGER (n, Σq, ΣqqΤ) state of
    * [[graft.functions.VecMomentsIntAgg]]: components quantize to a
    * fixed 10⁻⁴ grid first (`round(v·10⁴)` as long), so accumulation
    * is associative integer addition and the moments are bit-identical
    * regardless of partitioning — float summation order can never flip
    * the `round(…, 6)` digit against the oracle (the round-10 failure
    * mode). Each partition still collapses to a single d²+d+1-long
    * buffer before the exchange (O(partitions·d²) shuffle bytes at any
    * corpus size). cov(i,j) = (G_ij − sᵢsⱼ/n)/(n−1)/10⁸, derived from
    * the exact moments with the identical closed form on both sides,
    * unpivoted via posexplode with integer (div, mod) indexing.
    * `+ 0.0` after the round normalizes IEEE `-0.0` to `+0.0` on both
    * engines — numerically equal but hash-different otherwise. */
  def embCovariance(s: SparkSession, dir: String): DataFrame = {
    graft.functions.register(s)
    Tables.embeddings(s, dir)
      .select(transform(col("embedding"),
        v => round(v.cast("double") * lit(10000.0d)).cast("long")).as("q"))
      .agg(graft.functions.vec_moments_int(col("q")).as("m"))
      .select(col("m.n").as("n"), col("m.sums").as("sums"), col("m.gram").as("gram"))
      .select(col("n"), col("sums"), size(col("sums")).as("d"),
        posexplode(col("gram")))
      .withColumn("i", expr("pos div d").cast("long"))
      .withColumn("j", pmod(col("pos"), col("d")).cast("long"))
      .filter(col("i") <= col("j"))
      .select(col("i"), col("j"), col("n"),
        (round((col("col")
          - element_at(col("sums"), (col("i") + 1).cast("int"))
            * element_at(col("sums"), (col("j") + 1).cast("int")) / col("n"))
          / (col("n") - 1) / lit(1.0e8), 6) + lit(0.0)).as("cov"))
      .orderBy("i", "j")
  }

  /** #51c top principal component of the embedding space: the same
    * one-pass distributed moments, then a driver-side power iteration
    * on the d×d covariance — the 100 TB PCA shape (the data never
    * moves twice; the eigensolve is O(d²·iters) on a constant-size
    * broadcastable matrix). Deterministic: fixed uniform start vector,
    * fixed 200 iterations. Emits the dominant eigenvalue, explained
    * variance ratio λ₁/tr(Σ), and the residual ‖Σv − λv‖ as an
    * in-result convergence certificate. The residual is reported as a
    * value, not gated by a threshold: on a near-isotropic spectrum
    * (λ₁ ≈ λ₂ — exactly what synthetic Gaussian embeddings produce)
    * the iterate wanders inside the top eigenSPACE and the residual
    * floors at ~|λ₁−λ₂| while the Rayleigh quotient λ is already
    * stable — a boolean "converged" would be noise. */
  def embPca(s: SparkSession, dir: String): DataFrame = {
    graft.functions.register(s)
    val m = Tables.embeddings(s, dir)
      .agg(graft.functions.vec_moments(col("embedding")).as("m"))
      .select(col("m.n").as("n"), col("m.sums").as("sums"), col("m.gram").as("gram"))
      .head()
    val n = m.getLong(0)
    val sums = m.getSeq[Double](1).toArray
    val gram = m.getSeq[Double](2).toArray
    val d = sums.length
    require(n > 1, "PCA needs at least 2 vectors")
    val cov = Array.tabulate(d, d)((i, j) =>
      (gram(i * d + j) - sums(i) * sums(j) / n) / (n - 1))
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => { var acc = 0.0; var j = 0
        while (j < d) { acc += cov(i)(j) * v(j); j += 1 }; acc })
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    var it = 0
    while (it < 200) {
      val av = matVec(v)
      val nr = norm(av)
      v = av.map(_ / nr)
      it += 1
    }
    val av = matVec(v)
    val lambda = v.zip(av).map { case (a, b) => a * b }.sum
    val resid = norm(av.zip(v).map { case (a, b) => a - lambda * b })
    val trace = (0 until d).map(i => cov(i)(i)).sum
    import s.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n, d.toLong, r6(lambda), r6(lambda / trace), r6(resid)))
      .toDF("n", "d", "eigval", "explained_ratio", "resid")
  }

  /** #51d Mahalanobis top-20 embedding outliers
    * ([[graft.ops.Mahalanobis]]): covariance-aware distance over the
    * same one-pass moments, scored row-wise through the fused
    * array_dot ∘ array_mat_vec codegen pair; round-then-rank with the
    * vec_id tiebreak, TakeOrdered top-k (never a global sort). The
    * exact Σ mahal² = d·(n−1) trace identity is spec-pinned. */
  def embMahalanobis(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    try {
      val scored = graft.ops.Mahalanobis.score(Tables.embeddings(s, dir), "embedding")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          round(col("mahal2"), 6).as("mahal2"))
        .orderBy(col("mahal2").desc, col("vec_id")).limit(20)
      scored.withColumn("rk",
          row_number().over(Window.orderBy(col("mahal2").desc, col("vec_id"))))
        .orderBy("rk")
    } catch {
      // Degenerate corpus: n ≤ d, or n > d with rank-deficient covariance
      // (duplicate/collinear embedding rows) — [[graft.ops.Mahalanobis]]
      // refuses both eagerly (its moments pass + Cholesky run driver-side
      // at call time) and the QUERY must degrade to an empty result
      // instead of crashing (DegenerateProbe contract; cannot fire at any
      // real corpus scale, where n ≫ d and vectors carry noise). Catching
      // here instead of pre-checking covers the non-PD case the old
      // n > d pre-check missed, and drops that pre-check's extra
      // aggregation job from every invocation.
      case _: IllegalArgumentException =>
        s.range(0).select(col("id").as("vec_id"), col("id").as("label"),
          lit(0.0).as("mahal2"), lit(1).cast("int").as("rk"))
    }
  }

  /** #51e ZCA whitening certificate ([[graft.ops.Mahalanobis.whiten]]):
    * whitens the embeddings, then runs a SECOND one-pass moments
    * aggregation over the whitened column and reports the worst
    * deviations from the exact contract — mean ≈ 0, covariance ≈ I —
    * as a self-certifying single row (errors land at ~1e-12 and round
    * to 0.000000; any real defect in the Cholesky, the triangular
    * inverse, or the mat-vec would print as a nonzero). */
  def embWhiten(s: SparkSession, dir: String): DataFrame = try {
    graft.functions.register(s)
    val wdf = graft.ops.Mahalanobis.whiten(Tables.embeddings(s, dir), "embedding")
    val m = wdf.agg(graft.functions.vec_moments_double(col("whitened")).as("m"))
      .select("m.n", "m.sums", "m.gram").head()
    val n = m.getLong(0)
    val sums = m.getSeq[Double](1).toArray
    val gram = m.getSeq[Double](2).toArray
    val d = sums.length
    var maxMu = 0.0; var maxDiag = 0.0; var maxOff = 0.0
    var i = 0
    while (i < d) {
      maxMu = math.max(maxMu, math.abs(sums(i) / n))
      var j = 0
      while (j < d) {
        val c = (gram(i * d + j) - sums(i) * sums(j) / n) / (n - 1)
        if (i == j) maxDiag = math.max(maxDiag, math.abs(c - 1.0))
        else maxOff = math.max(maxOff, math.abs(c))
        j += 1
      }
      i += 1
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import s.implicits._
    Seq((n, d.toLong, r6(maxMu), r6(maxDiag), r6(maxOff)))
      .toDF("n", "d", "max_mean_abs", "max_diag_err", "max_offdiag_abs")
  } catch {
    // Same degenerate-corpus degradation as [[embMahalanobis]]: a
    // singular or non-positive-definite covariance makes whiten refuse
    // eagerly; the query degrades to the same empty schema.
    case _: IllegalArgumentException =>
      s.range(0).select(col("id").as("n"), col("id").as("d"),
        lit(0.0).as("max_mean_abs"), lit(0.0).as("max_diag_err"),
        lit(0.0).as("max_offdiag_abs"))
  }

  /** #38c compression-ratio quality profile per language
    * ([[graft.functions.DeflateRatio]]): the model-free redundancy
    * gate — per-language DEFLATE ratio distribution plus the count
    * under the 0.35 boilerplate bar. Complements the Gopher
    * line/n-gram repetition rules with a signal that needs no
    * tokenization at all. No SQL oracle (DuckDB has no zlib);
    * DeflateRatioSpec pins the ordering semantics. */
  def textCompressGate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.register(s)
    Tables.documents(s, dir)
      .withColumn("ratio", graft.functions.deflate_ratio(col("text")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        round(avg("ratio"), 6).as("mean_ratio"),
        round(expr("percentile(ratio, 0.1)"), 6).as("p10"),
        round(expr("percentile(ratio, 0.9)"), 6).as("p90"),
        sum(when(col("ratio") < 0.35, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy("lang")
  }

  /** #3b cheapest supplier per part (argmin-per-group): the classic
    * greatest-n-per-group pattern via `row_number` over a
    * (partkey)-partitioned window — one shuffle on the group key, no
    * self-join. Unit price is a SINGLE IEEE division (bit-identical
    * across engines, no accumulation jitter) rounded before ranking so
    * float ties resolve by the suppkey tiebreak identically. */
  def partBestSupplier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"),
      round(col("l_extendedprice") / col("l_quantity"), 6).as("unit_price"))
    val nSupp = u.groupBy("l_partkey")
      .agg(countDistinct("l_suppkey").as("n_suppliers"))
    val w = Window.partitionBy("l_partkey")
      .orderBy(col("unit_price"), col("l_suppkey"))
    u.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(nSupp, "l_partkey")
      .select(col("l_partkey"), col("l_suppkey").as("best_suppkey"),
        col("unit_price"), col("n_suppliers"))
      .orderBy("l_partkey")
  }

  /** #3c order-to-ship lead time distribution per order priority:
    * exact day lag (ship − order date) summarized as count, mean and
    * interpolated p50/p90/p99 (Spark `percentile` ≡ DuckDB
    * `quantile_cont`). The SLA readout of a fulfilment pipeline. */
  def leadTime(s: SparkSession, dir: String): DataFrame = {
    val j = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("days"))
    j.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(avg("days"), 6).as("mean_days"),
        round(expr("percentile(days, 0.5)"), 6).as("p50"),
        round(expr("percentile(days, 0.9)"), 6).as("p90"),
        round(expr("percentile(days, 0.99)"), 6).as("p99"))
      .orderBy("o_orderpriority")
  }

  /** #3d supplier market concentration per nation: exact-cents revenue
    * shares, Herfindahl–Hirschman index (sum of squared shares) and the
    * top supplier share — the skew diagnosis a procurement dashboard
    * runs. Dims broadcast; the only shuffle is the (nation, supplier)
    * rollup. */
  def supplierHhi(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(sum("cents").as("cents"))
    val tot = rev.groupBy("n_name").agg(sum("cents").as("tot"))
    rev.join(tot, "n_name")
      .withColumn("share", col("cents").cast("double") / col("tot"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        round(max(col("tot")) / lit(100.0), 2).as("revenue"),
        round(sum(pow(col("share"), 2)), 6).as("hhi"),
        round(max(col("share")), 6).as("top_share"))
      .orderBy("n_name")
  }

  /** #5l inter-arrival gap distribution per event type: microsecond
    * lag gaps over the (ts, event_id)-ordered stream, summarized with
    * the same exact-percentile parity as [[leadTime]] — the arrival
    * model a capacity planner fits. */
  def eventsInterarrival(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("gap_us", col("us") - lag("us", 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), round(avg("gap_us"), 6).as("mean_us"),
        round(expr("percentile(gap_us, 0.5)"), 6).as("p50_us"),
        round(expr("percentile(gap_us, 0.9)"), 6).as("p90_us"))
      .orderBy("event_type")
  }

  /** #5m exponentially weighted moving average of the hourly event
    * rate (α = 0.3, adjust-style normalized weights): expressed as the
    * closed-form ratio Σ(1−α)^(t−j)·x_j / Σ(1−α)^(t−j) over a
    * position-indexed self-join — the non-recursive formulation both
    * engines can evaluate identically (the recursion is the scale
    * path: `mapPartitions` per key over the sorted series). The series
    * is hourly per type (calendar-bounded), so the quadratic join is
    * over ~720-row groups, a constant. */
  def eventsEwma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
      .agg(count(lit(1)).cast("double").as("x"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("hour_us")))
    val a = hourly.select(col("event_type"), col("hour_us"),
      col("rn").as("ra"), col("x").as("xa"))
    val b = hourly.select(col("event_type").as("bt"),
      col("rn").as("rb"), col("x").as("xb"))
    a.join(b, col("event_type") === col("bt") && col("rb") <= col("ra"))
      .withColumn("wt", pow(lit(0.7), col("ra") - col("rb")))
      .groupBy("event_type", "hour_us")
      .agg(max("xa").as("n_events"),
        round(sum(col("wt") * col("xb")) / sum(col("wt")), 6).as("ewma"))
      .select(col("event_type"), col("hour_us"),
        col("n_events").cast("long").as("n_events"), col("ewma"))
      .orderBy("event_type", "hour_us")
  }

  /** #3n Croston's method for intermittent demand — the forecasting
    * standard where [[OpsQueries.forecastBaseline]]'s dense-series
    * models break down (spare-parts-style demand that is zero most
    * weeks): smooth the NONZERO demand sizes and the inter-demand
    * intervals separately (α = 0.3, same closed-form exponential
    * weights as [[eventsEwma]]: the seed carries (1−α)^(T−1), later
    * points α(1−α)^(T−i), summing to exactly 1), forecast = ẑ/v̂ per
    * period, with the Syntetos-Boylan approximation (1 − α/2)·ẑ/v̂
    * correcting Croston's positive bias. Weekly sizes and intervals
    * are exact integers; the weighted sums are one pinned double chain
    * each (v̂ ≥ 1 always — intervals are positive — so the ratio
    * cannot divide by zero). The self-join runs per part over the
    * NONZERO demand points only (weeks-bounded, post-aggregate —
    * exactly the sparsity Croston exploits).
    * Golden-pinned in [[graft.queries.EdgeBranchSpec]]. */
  def crostonForecast(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        expr("unix_micros(cast(l_shipdate as timestamp)) div 604800000000")
          .as("wk"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("l_partkey", "wk").agg(sum("q").as("z"))
    val w0 = weekly.agg(min("wk").as("w0"))
    val wp = Window.partitionBy("l_partkey").orderBy("wk")
    // t = max(rn) per part attaches as a full-partition window aggregate
    // over the SAME per-part partitioning as the rn/iv windows — one
    // WindowExec group, no extra exchange — instead of the former
    // groupBy + self-join, which re-executed the whole window pipeline
    // twice and shuffled it a third time (§5 multiply-consumed subtree,
    // §2.4 share one exchange). max over ints is order-independent ⇒
    // bit-identical weights.
    val pts = weekly.crossJoin(broadcast(w0))
      .withColumn("rn", row_number().over(wp).cast("long"))
      .withColumn("iv", coalesce(col("wk") - lag("wk", 1).over(wp),
        col("wk") - col("w0") + 1L))
      .withColumn("t", max("rn").over(Window.partitionBy("l_partkey")))
    pts
      .withColumn("w", when(col("rn") === 1, pow(lit(0.7), col("t") - 1))
        .otherwise(lit(0.3) * pow(lit(0.7), col("t") - col("rn"))))
      .groupBy("l_partkey")
      .agg(max("t").as("n_points"),
        sum(col("w") * col("z")).as("zh"), sum(col("w") * col("iv")).as("vh"))
      .select(col("l_partkey"), col("n_points"),
        round(col("zh"), 6).as("z_hat"), round(col("vh"), 6).as("v_hat"),
        round(col("zh") / col("vh"), 6).as("croston"),
        round(lit(0.85) * col("zh") / col("vh"), 6).as("sba"))
      .orderBy("l_partkey")
  }

  /** #26b top-3 TF-IDF keywords per document: the per-doc salience
    * readout a corpus browser shows. Ranking runs on the ROUNDED score
    * with a term tiebreak — float idf in the sort key would let a
    * last-ulp `ln` difference flip real-equal scores (integer (tf, df)
    * coincidences make exact score ties possible) between engines. */
  def docKeywords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val tf = docs.select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dft, "term").crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("score"))
      .orderBy("doc_id", "rk")
  }

  /** #5n Theil–Sen robust trend of the hourly event rate per type: the
    * median of all pairwise slopes over the hour-indexed series — the
    * outlier-immune alternative to the OLS fit in `events_regression`
    * (one corrupted hour moves the mean slope, not the median). The
    * pair space is quadratic in HOURS (calendar-bounded), not rows. */
  def eventsTheilsen(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
      .agg(count(lit(1)).cast("double").as("x"))
    val b = hourly.agg(min("hour_us").as("mn"))
    val g = hourly.crossJoin(broadcast(b))
      .select(col("event_type"),
        expr("(hour_us - mn) div 3600000000").as("hr"), col("x"))
    val a = g.select(col("event_type"), col("hr").as("i"), col("x").as("xi"))
    val c = g.select(col("event_type").as("et2"), col("hr").as("j"), col("x").as("xj"))
    a.join(c, col("event_type") === col("et2") && col("i") < col("j"))
      .withColumn("slope", (col("xj") - col("xi")) / (col("j") - col("i")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("median_slope"))
      .orderBy("event_type")
  }

  /** #26d tokenizer vocabulary coverage: the OOV rate per document
    * against the corpus top-1000 token vocabulary (count-then-token
    * total order, so the cut is deterministic) — the readout that says
    * whether a fixed vocab/tokenizer fits a new corpus drop. The vocab
    * is aggregation output (tiny) and broadcasts into the per-doc
    * membership join. */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir).select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
    // Top-1k by (count desc, term): orderBy+limit compiles to
    // TakeOrderedAndProject (per-partition heaps), not the
    // single-partition rank window this used to be — the vocabulary
    // GROWS with the corpus, so an unpartitioned sort here would be one
    // executor sorting web-scale vocab.
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(1000)
      .select("term")
    toks.join(broadcast(vocab.withColumn("in_vocab", lit(1))), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")
  }

  /** #26e sentence segmentation stats: sentences as maximal runs
    * without terminal punctuation ([.!?]), whitespace-trimmed and
    * blank-dropped identically on both engines — per doc count, mean
    * length, and longest sentence. */
  def docSentences(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '[^.!?]+', 0)")).as("raw"))
      .withColumn("sent", trim(col("raw")))
      .filter(length(col("sent")) > 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sentences"),
        round(avg(length(col("sent"))), 6).as("mean_len"),
        max(length(col("sent"))).cast("long").as("max_len"))
      .orderBy("doc_id")

  /** #27c code-switching / language-mix profile: sentence-segment each
    * document (same run-split as [[docSentences]]), language-ID every
    * sentence with the same stopword-argmax heuristic as
    * [[OpsQueries#textLangId doc-level lang-ID]], and report per doc
    * how many languages its sentences span, the majority language
    * (ties to the smaller code, via an arg-min struct — no per-doc
    * sort), and its share — the mixed-document detector a monolingual
    * training mix needs BEFORE per-doc lang-ID mislabels a 60/40
    * bilingual page. */
  def docLangMix(s: SparkSession, dir: String): DataFrame = {
    val cnts = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '[^.!?]+', 0)")).as("raw"))
      .withColumn("sent", trim(col("raw")))
      .filter(length(col("sent")) > 0)
      .select(col("doc_id"), TextAnalysis.langId(col("sent")).as("slang"))
      .groupBy("doc_id", "slang").agg(count(lit(1)).as("ns"))
    cnts.groupBy("doc_id")
      .agg(sum("ns").as("n_sentences"), count(lit(1)).as("n_langs"),
        min(struct((-col("ns")).as("neg"), col("slang").as("l"))).as("mj"))
      .select(col("doc_id"), col("n_sentences"), col("n_langs"),
        col("mj.l").as("major_lang"),
        round((-col("mj.neg")) / col("n_sentences"), 6).as("major_share"),
        (col("n_langs") > 1).as("mixed"))
      .orderBy("doc_id")
  }

  /** #1f right-to-be-forgotten cascade audit: a deterministic 2% of
    * users (same [[arithHash]] arithmetic as every sampling oracle) is
    * deleted from the event log; per day, rows before, rows after the
    * anti-join, and rows removed — the account a deletion pipeline has
    * to produce to prove the cascade ran. */
  def forgetUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
    val forget = ev.select("user_id").distinct()
      .filter(pmod(arithHash(col("user_id"), 99L), lit(1000000L)) < 20000L)
    val after = ev.join(broadcast(forget), Seq("user_id"), "left_anti")
    ev.groupBy("day").agg(count(lit(1)).as("n_before"))
      .join(after.groupBy("day").agg(count(lit(1)).as("n_after")), Seq("day"), "left")
      .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
      .withColumn("n_removed", col("n_before") - col("n_after"))
      .orderBy("day")
  }

  /** #47d point-in-time SCD2 lookup: the dimension version valid at
    * the corpus-midpoint probe instant (exact integer µs, so both
    * engines pick the identical T) — the feature-correctness join a
    * training pipeline needs to avoid leakage. A production PIT join
    * probes a SET of instants via the interval range join (#7c); the
    * single-probe form keeps the oracle a pure predicate. */
  def scd2Lookup(s: SparkSession, dir: String): DataFrame = {
    val hist = graft.ops.Upsert.scd2(Tables.events(s, dir),
        keyCols = Seq("user_id", "event_type"),
        versionCol = "ts", tieCols = Seq("event_id"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"))
    val t = Tables.events(s, dir)
      .agg(expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("t"))
    hist.crossJoin(broadcast(t))
      .filter(col("valid_from_us") <= col("t") &&
        (col("valid_to_us").isNull || col("valid_to_us") > col("t")))
      .select("user_id", "event_type", "event_id", "valid_from_us")
      .orderBy("user_id", "event_type")
  }

  /** #7p day-of-week × hour-of-day activity heatmap: the weekly
    * rhythm grid. Both axes are pure integer arithmetic on epoch
    * micros ((epoch_day + 4) mod 7 puts Sunday at 0 — engine-proof,
    * unlike the engines' differing dayofweek conventions). */
  def eventsHeatmap(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .groupBy(expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
      .agg(count(lit(1)).as("n_events"))
    g.crossJoin(broadcast(g.agg(sum("n_events").as("tot"))))
      .withColumn("share", round(col("n_events").cast("double") / col("tot"), 6))
      .select("dow", "hod", "n_events", "share")
      .orderBy("dow", "hod")
  }

  /** #2b pre-aggregation reuse: the weekly rollup derived FROM the
    * daily rollup (one base scan; the weekly pass re-aggregates ~days
    * rows, not events) — the materialized-cube economics every metrics
    * stack depends on. The metric rides exact integer micro-units, so
    * the two-stage sum is bit-identical to the oracle's — reuse must
    * not change results, and with integer sums it provably can't. */
  def rollupReuse(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000000, 0).cast("long")).as("sv"))
    daily
      .groupBy(expr("day div 7").as("week"), col("event_type"))
      .agg(sum("n").as("n_events"),
        round(sum("sv") / lit(1000000.0), 6).as("sum_value"))
      .orderBy("week", "event_type")
  }

  /** #5o geometric mean of positive event values per type through the
    * CUSTOM typed Aggregator ([[graft.functions.GeoMean]], registered
    * as a UDAF): state is the mergeable (Σ ln x, n) pair, so the plan
    * gets partial aggregation like any built-in — the custom-aggregate
    * extension tier next to the scalar expressions. */
  def eventsGeomean(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value") > 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(graft.functions.geo_mean(col("value")), 6).as("geo_mean"))
      .orderBy("event_type")

  /** #5p rank-based quantile normalization of event values onto the
    * pooled distribution (the ML-preprocessing step that forces every
    * group onto one scale): within-group rank i of m maps to the pooled
    * order statistic at index ((i−1)·(N−1)) div (m−1) — all integer
    * arithmetic over total orders, so the mapping is engine-exact. The
    * pooled global rank is the oracle-able form; at 100 TB the pooled
    * quantile function would come from an approx-quantile sketch table
    * instead of a global sort. Both total orders (pooled and per-type)
    * come from [[graft.ops.ChronoSplit.withOrderStats]]' quantile-
    * bucketed bounded windows — no unpartitioned (or single-hot-group)
    * WindowExec anywhere, so the exact-rank form itself survives
    * 100 TB. */
  def quantileNorm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
    val pooled = ChronoSplit.withGlobalRank(ev, "value", "event_id")
      .select((col(ChronoSplit.RankCol) - 1).as("idx"),
        col("value").as("pooled_value"))
    val n = ev.agg(count(lit(1)).as("nn"))
    val m = ev.groupBy("event_type").agg(count(lit(1)).as("m"))
    val grouped = ChronoSplit
      .withOrderStats(ev, "value", "event_id", partitionCols = Seq("event_type"))
      .withColumnRenamed(ChronoSplit.RankCol, "i")
      .join(m, "event_type")
    grouped.crossJoin(broadcast(n))
      .withColumn("idx",
        when(col("m") === 1, expr("(nn - 1) div 2"))
          .otherwise(expr("((i - 1) * (nn - 1)) div (m - 1)")))
      .join(pooled, "idx")
      .select(col("event_id"), col("event_type"),
        round(col("value"), 6).as("value"),
        round(col("pooled_value"), 6).as("norm_value"))
      .orderBy("event_id")
  }

  /** #7q audience saturation: cumulative distinct users by day — each
    * user counts once at their FIRST day (a groupBy min, no
    * distinct-over-window state), then a running sum over the
    * calendar-bounded day axis. */
  def userCumulative(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDay = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(expr("unix_micros(ts) div 86400000000")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val days = Tables.events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day")).distinct()
    days.join(firstDay, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum("new_users").over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  /** #4h revenue Lorenz curve + Gini: customers ranked by exact-cents
    * lifetime spend, cumulative revenue share at each decile boundary,
    * and the Gini coefficient from the exact trapezoid sum — the
    * inequality readout next to the per-nation HHI. Windows run over
    * one-row-per-customer aggregates (the established exception). */
  def revenueLorenz(s: SparkSession, dir: String): DataFrame = {
    // Rank + running spend via bucketed order stats — customers are
    // entity-scale, so the Lorenz order must not sort in one task.
    val spend = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
    val ranked = ChronoSplit
      .withOrderStats(spend, "cents", "o_custkey", sumCols = Seq("cents"))
      .withColumnRenamed(ChronoSplit.RankCol, "rk")
      .withColumnRenamed(ChronoSplit.cumCol("cents"), "cum")
    val tot = spend.agg(sum("cents").as("tot"), count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(tot))
      // Keep the first rank of each decile bucket — the row where
      // (rk·10) div n jumps — so exactly 10 boundary rows for any n.
      .filter(expr("(rk * 10) div n > ((rk - 1) * 10) div n"))
      .select(expr("(rk * 10) div n").as("decile"), col("rk").as("n_customers"),
        round(col("cum").cast("double") / col("tot"), 6).as("cum_share"))
      .orderBy("decile")
  }

  /** #4p Palma ratio of customer revenue — top-10% share over
    * bottom-40% share, the inequality headline [[revenueLorenz]]'s
    * curve only draws: both tail sums read off the SAME bucketed
    * (cents, custkey) rank walk at the exact integer cut ranks
    * k₄₀ = (4n) div 10 and k₉₀ = n − n div 10, so no percentile
    * interpolation enters and one division happens at display. */
  def palmaRatio(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
    val ranked = ChronoSplit
      .withOrderStats(spend, "cents", "o_custkey", sumCols = Seq("cents"))
      .withColumnRenamed(ChronoSplit.RankCol, "rk")
      .withColumnRenamed(ChronoSplit.cumCol("cents"), "cum")
    val tot = spend.agg(sum("cents").as("tot"), count(lit(1)).as("n"))
    val marks = ranked.crossJoin(broadcast(tot))
      .filter(expr("rk = (4*n) div 10 or rk = n - (n div 10)"))
      .groupBy("n", "tot")
      .agg(max(when(expr("rk = (4*n) div 10"), col("cum"))).as("b40"),
        max(when(expr("rk = n - (n div 10)"), col("tot") - col("cum"))).as("top10"))
    marks.select(col("n").as("n_customers"), col("tot").as("total_cents"),
      col("b40").as("bottom40_cents"), col("top10").as("top10_cents"),
      expr("round(cast(top10 as double)/b40, 6)").as("palma"),
      expr("round(cast(top10 as double)/tot, 6)").as("top10_share"),
      expr("round(cast(b40 as double)/tot, 6)").as("bottom40_share"))
  }

  /** #3e catalog coverage: per brand, parts never ordered (broadcast
    * anti-join of the catalog against observed lineitem part keys) —
    * the assortment dead-stock readout. */
  def catalogCoverage(s: SparkSession, dir: String): DataFrame = {
    val ordered = Tables.lineitem(s, dir).select(col("l_partkey")).distinct()
    val parts = Tables.part(s, dir)
    val never = parts.join(ordered, col("p_partkey") === col("l_partkey"), "left_anti")
      .groupBy("p_brand").agg(count(lit(1)).as("n_never"))
    parts.groupBy("p_brand").agg(count(lit(1)).as("n_parts"))
      .join(never, Seq("p_brand"), "left")
      .withColumn("n_never", coalesce(col("n_never"), lit(0L)))
      .withColumn("coverage",
        round((col("n_parts") - col("n_never")).cast("double") / col("n_parts"), 6))
      .orderBy("p_brand")
  }

  /** #3g weighted median unit price per return flag (weights =
    * quantities): sort by (price, line identity), running weight sum,
    * first row reaching half the total — weighted order statistics
    * without any sampling. Quantities are integral doubles, so every
    * running sum is exact and the pick is engine-identical. The
    * running weight sum is a bucketed per-flag prefix
    * ([[ChronoSplit.withOrderStats]] over exact long weights) — flags
    * have only 3 values, so a flag-partitioned window over raw
    * lineitems is 3 tasks each sorting a third of the table at 100 TB;
    * the median pick itself is a per-flag min(struct), no window. */
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("flag"),
      round(col("l_extendedprice") / col("l_quantity"), 6).as("unit"),
      col("l_quantity").as("wt"),
      // l_linenumber <= 7, so this composite is unique and lexicographic
      // in (l_orderkey, l_linenumber).
      (col("l_orderkey") * 8 + col("l_linenumber")).as("tie"),
      col("l_quantity").cast("long").as("wq"))
    val tot = li.groupBy("flag").agg(sum("wt").as("tot"))
    val cum = ChronoSplit
      .withOrderStats(li, "unit", "tie", partitionCols = Seq("flag"),
        sumCols = Seq("wq"), withRank = false)
      .join(tot, "flag")
      .filter(col(ChronoSplit.cumCol("wq")) * 2 >= col("tot"))
    cum.groupBy("flag")
      .agg(min(struct(col("unit"), col("tie"))).as("f"), max("tot").as("tot"))
      .select(col("flag"), col("f.unit").as("weighted_median"),
        round(col("tot"), 2).as("total_weight"))
      .orderBy("flag")
  }

  /** #5q above-average streaks (gaps-and-islands on a condition): per
    * type, the longest run of consecutive observed hours whose count
    * exceeds the type's hourly average, plus how many such runs exist.
    * The threshold comparison is the exact integer cross-multiply
    * `n_events · n_hours > total` — no float average near the cut. */
  def eventsStreaks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
      .agg(count(lit(1)).as("n"))
    val tot = hourly.groupBy("event_type")
      .agg(sum("n").as("total"), count(lit(1)).as("n_hours"))
    val above = hourly.join(tot, "event_type")
      .filter(col("n") * col("n_hours") > col("total"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("hour_us")).cast("long"))
      // Consecutive observed hours share one (hour index − rn) island key.
      .withColumn("grp", expr("hour_us div 3600000000") - col("rn"))
    above.groupBy("event_type", "grp").agg(count(lit(1)).as("len"))
      .groupBy("event_type")
      .agg(max("len").as("longest_streak"), count(lit(1)).as("n_streaks"))
      .orderBy("event_type")
  }

  /** #4i price–volume–mix decomposition: the revenue delta between the
    * first and second half of the order history (integer-µs midpoint
    * cut), split per part into volume effect (Δq·p₀) and price effect
    * (q₁·Δp), summed over parts present in both halves — the canonical
    * "why did revenue move" bridge. Quantities and cents are exact;
    * only the final effect sums are floats (rounded at total scale). */
  def priceVolumeMix(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
    // o_orderdate is TIMESTAMP_NTZ; the session is pinned UTC, so the
    // cast is an identity relabel and epoch micros match DuckDB's.
    val odus = expr("unix_micros(cast(o_orderdate AS timestamp))")
    val cut = li.agg(((min(odus) + max(odus)) / 2).cast("long").as("cut"))
    val byPeriod = li.crossJoin(broadcast(cut))
      .withColumn("period", when(odus < col("cut"), 0L).otherwise(1L))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long"))
      .groupBy("l_partkey", "period")
      .agg(sum("l_quantity").as("q"), sum("cents").as("c"))
    val p0 = byPeriod.filter(col("period") === 0)
      .select(col("l_partkey"), col("q").as("q0"), col("c").as("c0"))
    val p1 = byPeriod.filter(col("period") === 1)
      .select(col("l_partkey"), col("q").as("q1"), col("c").as("c1"))
    p0.join(p1, "l_partkey")
      .withColumn("pp0", col("c0").cast("double") / col("q0"))
      .withColumn("pp1", col("c1").cast("double") / col("q1"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("c1") - col("c0")).as("delta_cents"),
        round(sum((col("q1") - col("q0")) * col("pp0")) / 100.0, 2)
          .as("volume_effect"),
        round(sum(col("q1") * (col("pp1") - col("pp0"))) / 100.0, 2)
          .as("price_effect"))
  }

  /** #4j new-vs-repeat revenue per month: each order classified by
    * whether its customer has an earlier order (strict (date, orderkey)
    * total order, so ties are deterministic) — the acquisition-vs-
    * retention revenue split. Exact cents throughout. */
  def newRepeatRevenue(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .withColumn("month",
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long"))
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o.withColumn("is_first", row_number().over(w) === 1)
      .groupBy("month")
      .agg(round(sum(when(col("is_first"), col("cents")).otherwise(0L)) / 100.0, 2)
          .as("new_revenue"),
        round(sum(when(!col("is_first"), col("cents")).otherwise(0L)) / 100.0, 2)
          .as("repeat_revenue"),
        count(when(col("is_first"), 1)).as("n_new"),
        count(when(!col("is_first"), 1)).as("n_repeat"))
      .orderBy("month")
  }

  /** #36b corpus data card: the one-row release summary (doc count,
    * token mass, quality mean, language count, length percentiles) a
    * dataset ships with — every metric from ONE scan of the documents
    * table (multi-aggregate, no second pass). */
  def corpusDatacard(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_toks",
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long"))
      .withColumn("q", graft.ops.TextAnalysis.qualityScore(col("text")))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("total_tokens"),
        round(avg("q"), 6).as("mean_quality"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"))

  /** #5s daily quantile bands of the value distribution per type
    * (p10/p50/p90 series) — the spread-over-time readout behind every
    * latency/metric band chart; exact interpolated percentiles per
    * (day, type) group. */
  def eventsPercentileSeries(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.1)"), 6).as("p10"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"))
      .orderBy("day", "event_type")

  /** #23e embedding hygiene profile per label: count, mean and median
    * L2 norm (each norm is one fused dot+sqrt — engine-identical per
    * row), and the worst zero-component count — the vector-QA gate
    * before any index build trusts a new embedding drop. */
  def vecProfile(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("nrm", sqrt(graft.functions.array_dot(col("embedding"), col("embedding"))))
      .withColumn("n_zero", expr(
        "aggregate(embedding, 0L, (acc, x) -> acc + CASE WHEN x = 0.0F THEN 1L ELSE 0L END)"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("nrm"), 6).as("mean_norm"),
        round(expr("percentile(nrm, 0.5)"), 6).as("median_norm"),
        max("n_zero").as("max_zero_components"))
      .orderBy("label")

  /** #4l repeat-purchase latency: the day gap between each customer's
    * first and second order ((date, orderkey) total order), summarized
    * with exact interpolated percentiles — the inter-purchase interval
    * every retention model starts from. */
  def repeatLatency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val firstTwo = Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        datediff(max("o_orderdate"), min("o_orderdate")).cast("long").as("gap_days"))
      .filter(col("n") === 2)
    firstTwo.agg(count(lit(1)).as("n_repeat"),
      round(avg("gap_days"), 6).as("mean_days"),
      round(expr("percentile(gap_days, 0.5)"), 6).as("p50"),
      round(expr("percentile(gap_days, 0.9)"), 6).as("p90"))
  }

  /** #13e segment × brand preference lift: observed basket share over
    * the independence expectation (`obs·total / (row·col)`, all exact
    * integer counts) — the merchandising heat matrix that says which
    * customer segment over-indexes on which brand. */
  def segmentBrandLift(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .select("c_mktsegment", "p_brand")
    val cell = base.groupBy("c_mktsegment", "p_brand").agg(count(lit(1)).as("n"))
    val row = cell.groupBy("c_mktsegment").agg(sum("n").as("rn"))
    val colT = cell.groupBy("p_brand").agg(sum("n").as("cn"))
    val tot = cell.agg(sum("n").as("tot"))
    cell.join(row, "c_mktsegment").join(colT, "p_brand")
      .crossJoin(broadcast(tot))
      .withColumn("lift", round(
        col("n").cast("double") * col("tot") / (col("rn") * col("cn")), 6))
      .select("c_mktsegment", "p_brand", "n", "lift")
      .orderBy("c_mktsegment", "p_brand")
  }

  /** #4k leaderboard dynamics: the 10 parts that climbed the revenue
    * ranking most between the first and second half of the shipping
    * history (integer-µs midpoint cut, exact-cents ranks with partkey
    * tiebreaks in both periods — the rank delta is pure integer
    * arithmetic). The "top movers" panel of any revenue leaderboard. */
  def rankMovers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sdus = expr("unix_micros(cast(l_shipdate AS timestamp))")
    val li = Tables.lineitem(s, dir)
    val cut = li.agg(((min(sdus) + max(sdus)) / 2).cast("long").as("cut"))
    val byPeriod = li.crossJoin(broadcast(cut))
      .withColumn("period", when(sdus < col("cut"), 0L).otherwise(1L))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long"))
      .groupBy("period", "l_partkey").agg(sum("cents").as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("period").orderBy(col("c").desc, col("l_partkey")))
        .cast("long"))
    val prev = byPeriod.filter(col("period") === 0)
      .select(col("l_partkey"), col("rk").as("rk_prev"))
    val last = byPeriod.filter(col("period") === 1)
      .select(col("l_partkey"), col("rk").as("rk_last"),
        round(col("c") / 100.0, 2).as("revenue"))
    last.join(prev, "l_partkey")
      .withColumn("delta", col("rk_prev") - col("rk_last"))
      .orderBy(col("delta").desc, col("l_partkey"))
      .limit(10)
      .select("l_partkey", "rk_prev", "rk_last", "delta", "revenue")
  }

  /** #5r seasonally-adjusted anomaly screen: each observed hour's
    * count against the expectation for its (dow, hour-of-day) cell
    * (same integer axes as [[eventsHeatmap]]), residuals z-scored per
    * type, top-5 absolute deviations elected round-then-rank — the
    * alert that fires on "weird for a Tuesday 3am", not "weird
    * overall". Plain `events_anomaly` flags every weekend morning;
    * seasonal adjustment is what makes the screen deployable. */
  def eventsSeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", expr("(hour_us div 86400000000 + 4) % 7"))
      .withColumn("hod", expr("(hour_us div 3600000000) % 24"))
    val cell = hourly.groupBy("event_type", "dow", "hod")
      .agg(sum("n").as("cn"), count(lit(1)).as("cc"))
    val resid = hourly.join(cell, Seq("event_type", "dow", "hod"))
      .withColumn("expected", col("cn").cast("double") / col("cc"))
      .withColumn("resid", col("n") - col("expected"))
    val sd = resid.groupBy(col("event_type").as("et2"))
      .agg(stddev_samp("resid").as("sd"))
    resid.join(sd, col("event_type") === col("et2"))
      .withColumn("z", round(col("resid") / col("sd"), 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(abs(col("z")).desc, col("hour_us"))).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("event_type"), col("rk"), col("hour_us"), col("n"),
        round(col("expected"), 6).as("expected"), col("z"))
      .orderBy("event_type", "rk")
  }

  /** #26f Flesch-style readability: words = \S+ runs, sentences =
    * terminal-punctuation splits (≥1), syllables = vowel-group runs —
    * all integer counts through the identical regexes, then the
    * classic 206.835 − 1.015·(w/s) − 84.6·(syl/w) formula. The ranking
    * signal a curriculum or quality gate sorts on. */
  def docReadability(s: SparkSession, dir: String): DataFrame =
    // One parquet file → one partition; the three regex passes are
    // CPU-bound, so spread the scan before them (same bytes-vs-CPU
    // sizing trap as the edit-distance verifies; fanOut: no-op on a
    // wide at-scale scan).
    Tables.fanOut(Tables.documents(s, dir))
      .withColumn("n_words",
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long"))
      .withColumn("n_sents", greatest(lit(1L),
        size(expr("regexp_extract_all(text, '[^.!?]*[.!?]', 0)")).cast("long")))
      .withColumn("n_syl",
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("long"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syl"),
        round(lit(206.835)
          - lit(1.015) * col("n_words").cast("double") / col("n_sents")
          - lit(84.6) * col("n_syl").cast("double") / col("n_words"), 4)
          .as("flesch"))
      .orderBy("doc_id")

  /** #26g keyword-in-context: the ±30-char window around the FIRST
    * occurrence of the probe term per matching document — 1-based
    * `instr`/`strpos` and `substring` agree across engines, so the
    * snippet bytes hash-match exactly. */
  def kwicSnippets(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("pos", instr(lower(col("text")), "vector").cast("long"))
      .filter(col("pos") > 0)
      .select(col("doc_id"), col("pos"),
        expr("substring(text, cast(greatest(pos - 30, 1) as int), 66)")
          .as("snippet"))
      .orderBy("doc_id")

  /** #34b leave-one-out target encoding of order priority against
    * spend: each order's encoding is the mean of the OTHER orders in
    * its category ((Σ − own)/(n−1), exact integer cents) — the
    * leakage-safe form of mean encoding; the naive version would leak
    * each row's own target into its feature. */
  def targetEncode(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
    val agg = o.groupBy(col("o_orderpriority").as("pr"))
      .agg(sum("cents").as("sc"), count(lit(1)).as("n"))
    o.join(broadcast(agg), col("o_orderpriority") === col("pr"))
      .withColumn("loo_mean", when(col("n") > 1,
        round((col("sc") - col("cents")).cast("double")
          / (col("n") - 1) / 100.0, 6)))
      .select("o_orderkey", "o_orderpriority", "loo_mean")
      .orderBy("o_orderkey")
  }

  /** #34c the hashing trick: (event_type, user) feature pairs hashed
    * into 64 buckets via the md5-prefix arithmetic both engines share —
    * fixed-width feature vectors with no vocabulary build, the
    * unbounded-cardinality answer when even a vocab table is too big.
    * Bucket histogram + distinct source pairs per bucket. */
  def featureHash(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("bucket", pmod(
        expr("cast(conv(substring(md5(concat(event_type, ':', " +
          "cast(user_id as string))), 1, 15), 16, 10) as long)"), lit(64L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("event_type", "user_id").as("n_pairs"))
      .orderBy("bucket")

  /** #34d 1-D decision stump: the information-gain-best threshold on
    * order value for predicting finished status, over 9 equi-spaced
    * integer candidate cuts. Entropies come from exact integer counts
    * through the identical formula on both engines; the winner is
    * elected round-then-rank (gain 6dp, threshold tiebreak) — the
    * supervised-binning / feature-selection primitive. */
  def bestSplit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir).select(
      (col("o_orderstatus") === "F").cast("long").as("y"),
      round(col("o_totalprice") * 100, 0).cast("long").as("x"))
    val b = o.agg(min("x").as("mn"), max("x").as("mx"),
      count(lit(1)).as("n"), sum("y").as("pos"))
    val cands = b.select(explode(sequence(lit(1L), lit(9L))).as("k"),
        col("mn"), col("mx"), col("n"), col("pos"))
      .withColumn("thr", expr("mn + k * (mx - mn) div 10"))
    val stats = o.crossJoin(broadcast(cands))
      .groupBy("k", "thr", "n", "pos")
      .agg(count(when(col("x") <= col("thr"), 1)).as("nl"),
        count(when(col("x") <= col("thr") && col("y") === 1, 1)).as("pl"))
    def ent(p: Column, q: Column): Column = {
      val r = p.cast("double") / q
      when(p === 0 || p === q, lit(0.0))
        .otherwise(-r * log(r) - (lit(1.0) - r) * log(lit(1.0) - r))
    }
    val scored = stats
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("pr", col("pos") - col("pl"))
      .withColumn("gain", round(
        ent(col("pos"), col("n"))
          - (col("nl").cast("double") / col("n")) * ent(col("pl"), col("nl"))
          - (col("nr").cast("double") / col("n")) * ent(col("pr"), col("nr")), 6))
    scored
      .withColumn("is_best", row_number().over(
        Window.orderBy(col("gain").desc, col("thr"))) === 1)
      .select(col("k"), col("thr"), col("nl"), col("pl"), col("gain"), col("is_best"))
      .orderBy("k")
  }

  /** #33b class rebalancing: every event type downsampled to the
    * minority class size by hash-ranked selection (the [[arithHash]]
    * order, so the kept set is deterministic and oracle-mirrorable) —
    * the class-balance step before training on skewed label
    * distributions. */
  def classRebalance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir).select("event_id", "event_type")
    val target = ev.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .agg(min("cnt").as("target"))
    val w = Window.partitionBy("event_type")
      .orderBy(pmod(arithHash(col("event_id"), 77L), lit(1000000L)), col("event_id"))
    ev.withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(target))
      .filter(col("rk") <= col("target"))
      .select("event_id", "event_type", "rk")
      .orderBy("event_id")
  }

  /** #7o day-over-day user churn: per day, the users retained from,
    * new versus, and churned since the previous day — a full-outer
    * set-op on the deduped (day, user) pairs, the daily growth
    * accounting every activity dashboard leads with. */
  def userChurn(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      .distinct()
    val cur = du.withColumn("cur", lit(1))
    val prev = du.select((col("day") + 1).as("day"), col("user_id"), lit(1).as("prev"))
    cur.join(prev, Seq("day", "user_id"), "full_outer")
      .groupBy("day")
      .agg(count(when(col("cur").isNotNull && col("prev").isNotNull, 1)).as("retained"),
        count(when(col("cur").isNotNull && col("prev").isNull, 1)).as("new_users"),
        count(when(col("cur").isNull && col("prev").isNotNull, 1)).as("churned"))
      .orderBy("day")
  }

  /** #1e join fan-out profile: the orders-per-customer degree
    * histogram (including the zero-order customers via an anti-join) —
    * the distribution that predicts join blow-up and skew before any
    * fact⋈dim join runs. */
  def fanoutProfile(s: SparkSession, dir: String): DataFrame = {
    val deg = Tables.orders(s, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    val hist = deg.groupBy("n_orders").agg(count(lit(1)).as("n_customers"))
    val zero = Tables.customer(s, dir)
      .join(Tables.orders(s, dir).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_customers"))
      .select(lit(0L).as("n_orders"), col("n_customers"))
      .filter(col("n_customers") > 0)
    hist.unionAll(zero).orderBy("n_orders")
  }

  /** #1d k-anonymity audit over the customer quasi-identifiers
    * (nation, market segment, account-balance band): equivalence-class
    * sizes with the k < 5 at-risk flag — the privacy screen a
    * training-data release runs before shipping user-derived rows. The
    * balance band is a single IEEE division + floor (bit-identical
    * across engines; no accumulation). */
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", col("n") < 5)
      .orderBy("c_nationkey", "c_mktsegment", "bal_band")

  /** #5c lag autocorrelation of the hourly event-rate series per type
    * (lags 1–3 over observed hours) — the seasonality screen a
    * monitoring pipeline runs before alerting on rate anomalies.
    * Two bounded shuffles: hourly rollup, then a per-type window whose
    * partitions are type-hour counts, never raw events. */
  def eventsAcf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w = Window.partitionBy("event_type").orderBy("hour_us")
    hourly
      .withColumn("n1", lag("n", 1).over(w))
      .withColumn("n2", lag("n", 2).over(w))
      .withColumn("n3", lag("n", 3).over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        round(corr("n", "n1"), 6).as("acf1"),
        round(corr("n", "n2"), 6).as("acf2"),
        round(corr("n", "n3"), 6).as("acf3"))
      .orderBy("event_type")
  }

  /** #5d first-order Markov transition profile of user behavior: for
    * consecutive event pairs per user (total order: ts, then event_id),
    * the transition count and conditional probability P(to | from).
    * One window shuffle on user_id, then a tiny |types|² aggregate. */
  def eventsMarkov(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    Tables.events(s, dir)
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(
        col("n") / sum("n").over(Window.partitionBy("from_type")), 6))
      .orderBy("from_type", "to_type")
  }

  /** #5d'' semi-Markov sojourn times: the holding-time half of the
    * behavior chain — [[eventsMarkov]] gives P(next | current); this
    * gives HOW LONG users sit in each state before each transition
    * (mean and max gap per (from, to) pair, exact integer micros), the
    * timing model a semi-Markov simulation needs on top of the jump
    * probabilities. Gaps aggregate as exact integers; the mean divides
    * once at display. */
  def markovSojourn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .withColumn("gap_us", lead("ts_us", 1).over(w) - col("ts_us"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"), sum("gap_us").as("sum_gap_us"),
        max("gap_us").as("max_gap_us"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("sum_gap_us") / col("n") / 1000000.0, 6).as("mean_gap_s"),
        round(col("max_gap_us") / 1000000.0, 6).as("max_gap_s"))
      .orderBy("from_type", "to_type")
  }

  /** #33b weighted sampling without replacement: 500 documents drawn
    * ∝ n_chars by Efraimidis–Spirakis keys over an md5-derived uniform
    * (15 hex digits → 60 bits), so the draw is engine-reproducible. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    // u ∈ (0, 1]: (h+1) / 2^60 — never 0, so ln(u) is finite.
    val u = (h + lit(1L)).cast("double") / lit(1152921504606846976.0)
    Sampling.weightedSample(
        Tables.documents(s, dir), u, col("n_chars").cast("double"), 500)
      .select(col("doc_id"), col("n_chars"),
        round(col("sample_key"), 9).as("sample_key"))
      .orderBy("doc_id")
  }

  /** #7d' two-stage salted aggregation, oracled against the plain
    * GROUP BY it must equal — the reducer-state skew mitigation for
    * power-law keys (see [[SkewJoin.saltedAgg]]). */
  def aggSkewSalted(s: SparkSession, dir: String): DataFrame =
    SkewJoin.saltedAgg(Tables.events(s, dir), "event_type", col("value"),
        pmod(col("event_id"), lit(16L)), 16)
      .select(col("event_type"), col("n"),
        round(col("sum_value"), 6).as("sum_value"))
      .orderBy("event_type")

  /** #28b Unicode NFC normalization at ingest via the native
    * [[graft.functions.NfcNormalize]] expression. The corpus is
    * already-NFC ASCII, so each document is probed with an appended
    * decomposed suffix (combining acute/ring) that NFC must compose —
    * the emitted lengths shrink and the md5 moves, both hash-checked
    * against DuckDB's independent `nfc_normalize`. */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    // e + U+0301 combining acute, A + U+030A combining ring — kept
    // decomposed via escapes; NFC composes both (é, Å), so len shrinks by 2.
    val probe = concat(col("text"), lit(" cafe\u0301 A\u030A"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(probe).as("len_raw"),
        length(graft.functions.nfc_normalize(probe)).as("len_norm"),
        md5(graft.functions.nfc_normalize(probe)).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** #28c accent folding at ingest via the native
    * [[graft.functions.StripAccents]] expression (NFD + combining-mark
    * removal): each document is probed with composed (é, Å) AND
    * decomposed (e+U+0301, A+U+030A) accents plus mark-free specials
    * (æøß) that must survive untouched — lengths and md5 hash-checked
    * against DuckDB's independent `strip_accents`. */
  def textUnaccent(s: SparkSession, dir: String): DataFrame = {
    // Escapes keep composed-vs-decomposed distinctions editor-proof:
    // caf\u00e9 (precomposed) vs cafe\u0301 (combining acute),
    // A\u030a (combining ring) vs \u00c5bo (precomposed); \u00e6\u00f8\u00df
    // carry no marks and must pass through byte-identical.
    val probe = concat(col("text"),
      lit(" caf\u00e9 cafe\u0301 A\u030a \u00c5bo \u00e6\u00f8\u00df"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(probe).as("len_raw"),
        length(graft.functions.strip_accents(probe)).as("len_stripped"),
        md5(graft.functions.strip_accents(probe)).as("stripped_md5"))
      .orderBy("doc_id")
  }

  /** #14b per-user leave-last-out split: each user's most recent 20% of
    * events as the test slice. */
  def chronoSplitUser(s: SparkSession, dir: String): DataFrame = {
    val Seq(_, test) = ChronoSplit.splitPerGroup(
      Tables.events(s, dir), "user_id", Seq(0.8, 0.2), "ts", "event_id")
    test.select("event_id", "user_id", "event_type").orderBy("event_id")
  }

  /** #3i Bloom-pruned selective fact⋈dim join: lineitem rows joined to
    * the suppliers of one nation through [[graft.ops.BloomJoin]] — the
    * fact scan drops non-partner rows through the codegen'd
    * `bloom_might_contain` probe BEFORE its exchange. The oracle IS the
    * plain join (Bloom filters have no false negatives; the exact join
    * removes the fpp sliver), so correctness of the pruning is
    * hash-checked, not assumed. At gate scale the dim would broadcast
    * anyway; the operator targets the selective-but-not-broadcastable
    * dim where today the whole fact table shuffles for a 1% match. */
  def bloomJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    val fact = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_suppkey")
    BloomJoin.inner(fact, dim, "l_suppkey")
      .select("l_orderkey", "l_linenumber", "l_suppkey", "s_name")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** #33c per-source document cap (the C4/RefinedWeb-style domain cap:
    * no single domain may dominate the corpus): at most 30 docs per
    * source, elected by md5(doc_id) so the survivor set is a
    * deterministic pseudo-random draw, stable across engines and runs.
    * One shuffle on source; the window compiles to per-group top-n. */
  def domainCap(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedQuota(
      Tables.documents(s, dir).select("doc_id", "source"),
      Seq(col("source")),
      Seq(md5(col("doc_id").cast("string")), col("doc_id")),
      n = 30)
      .select("source", "doc_id")
      .orderBy("source", "doc_id")

  /** #1d' l-diversity audit (the k-anonymity refinement: a class of 50
    * identical quasi-identifiers still leaks if all 50 share the
    * sensitive value): distinct market segments per (nation,
    * balance-band) class, flagged where diversity < 3. */
  def lDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long"))
      .groupBy("c_nationkey", "bal_band")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("c_mktsegment")).as("l_div"))
      .withColumn("at_risk", col("l_div") < 3)
      .orderBy("c_nationkey", "bal_band")

  /** #1h t-closeness audit (Li et al. ICDE'07) — completes the
    * k-anonymity / l-diversity / t-closeness privacy triple. Per
    * quasi-identifier equivalence class, the distance between the
    * class's sensitive-attribute (market segment) distribution and the
    * corpus-wide one; for a categorical attribute under uniform ground
    * distance the earth-mover distance reduces to total variation,
    * ½·Σ|p−q|. Computed in EXACT integer arithmetic —
    * Σ|cnt·N − g·n_c| / (2·n_c·N) — so the sum is order-independent and
    * the DuckDB oracle hash-matches (a naive Σ of per-segment double
    * ratios would depend on accumulation order). The absent-segment
    * terms matter (|0 − q|), so the observed counts are left-joined
    * onto the complete class × segment grid; the 5-row segment table
    * broadcasts. l-diversity says how MANY sensitive values a class
    * holds; t-closeness catches classes where the mix is skewed enough
    * to leak (e.g. 90% one segment) even when l is formally satisfied. */
  def tCloseness(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long"))
      .select("c_nationkey", "bal_band", "c_mktsegment")
    val glob = base.groupBy("c_mktsegment").agg(count(lit(1)).as("g"))
    val nTot = base.count()
    val cls = base.groupBy("c_nationkey", "bal_band").agg(count(lit(1)).as("n"))
    val obs = base.groupBy("c_nationkey", "bal_band", "c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
    cls.join(broadcast(glob))
      .join(obs, Seq("c_nationkey", "bal_band", "c_mktsegment"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy("c_nationkey", "bal_band")
      .agg(max("n").as("n"),
        sum(abs(col("cnt") * nTot - col("g") * col("n"))).as("tvd_num"))
      .withColumn("t_close",
        round(col("tvd_num").cast("double") / (lit(2.0) * col("n") * nTot), 6))
      .withColumn("at_risk", col("t_close") > 0.5)
      .select("c_nationkey", "bal_band", "n", "t_close", "at_risk")
      .orderBy("c_nationkey", "bal_band")
  }

  /** #7l' join-key overlap profiles over three FK edges
    * ([[graft.ops.Sketches.keyOverlap]]): exact set sizes plus the
    * audited HLL inclusion-exclusion estimate — the planning statistic
    * behind choosing [[graft.ops.BloomJoin]] vs broadcast vs plain. */
  def keyOverlapProfile(s: SparkSession, dir: String): DataFrame = {
    val pairs = Seq(
      ("events_customer",
        Tables.events(s, dir), "user_id", Tables.customer(s, dir), "c_custkey"),
      ("lineitem_part",
        Tables.lineitem(s, dir), "l_partkey", Tables.part(s, dir), "p_partkey"),
      ("orders_customer",
        Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey"))
    pairs.map { case (lbl, a, ac, b, bc) =>
      Sketches.keyOverlap(a, ac, b, bc).withColumn("pair", lit(lbl))
    }.reduce(_ unionAll _)
      .select("pair", "n_a", "n_b", "n_common", "est_ok")
      .orderBy("pair")
  }

  /** #14d rolling-origin backtest folds (time-series CV): 3 expanding
    * windows over events, profiled per (fold, role) — counts plus the
    * time extents that prove train never leaks past its cutoff. */
  def backtestFolds(s: SparkSession, dir: String): DataFrame =
    ChronoSplit.rollingOrigin(Tables.events(s, dir), "ts", folds = 3)
      .groupBy("fold", "role")
      .agg(count(lit(1)).as("n"),
        min(unix_micros(col("ts"))).as("min_us"),
        max(unix_micros(col("ts"))).as("max_us"))
      .orderBy("fold", "role")

  /** #50d leakage-safe quantile discretizer: quartile breaks fitted on
    * the even-event_id half only ([[graft.ops.Numeric.quantileBins]]),
    * applied to all rows; per-bin counts and value extents. */
  def quantileBinsQuery(s: SparkSession, dir: String): DataFrame =
    graft.ops.Numeric.quantileBins(Tables.events(s, dir), "value",
        expr("event_id % 2 = 0"), Seq(0.25, 0.5, 0.75))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 6).as("lo"),
        round(max(col("value")), 6).as("hi"))
      .orderBy("bin")

  /** #1d'' differentially-private count release (Laplace mechanism,
    * ε = 0.1, sensitivity 1): per-event-type counts plus inverse-CDF
    * Laplace noise over a deterministic md5-derived uniform — the draw
    * reproduces on any engine, which is what makes the mechanism
    * hash-checkable here (production swaps the hash for calibrated
    * randomness; the release arithmetic is identical). The noise is
    * rounded to 1e-6 BEFORE adding so an engine ulp difference in `ln`
    * cannot flip the released grid value. */
  def dpCounts(s: SparkSession, dir: String): DataFrame = {
    val b = 10.0 // 1/ε
    val u = (conv(substring(md5(concat(lit("dp:"), col("event_type"))), 1, 15),
      16, 10).cast("double") + 0.5) / math.pow(16, 15)
    val centered = u - 0.5
    val noise = round(
      -lit(b) * signum(centered) * log(lit(1.0) - lit(2.0) * abs(centered)), 6)
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("__n"))
      .select(col("event_type"), lit(0.1).as("eps"),
        round(col("__n") + noise, 6).as("n_dp"))
      .orderBy("event_type")
  }

  /** #1d'''' DP sparse-vector technique (AboveThreshold, Dwork-Roth
    * Alg. 1): the adaptive mechanism [[dpCounts]] cannot express —
    * answer a SEQUENCE of hour-of-day volume queries against a noisy
    * threshold, halting after c = 3 positives so the privacy budget is
    * paid only for hits. Noise is the same deterministic inverse-CDF
    * Laplace draw keyed per query (threshold at scale 2/ε, queries at
    * 4/ε); the halt is a cumulative-positives walk over the 24-row
    * ordered query grid. */
  def dpSvt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = 10.0 // 1/ε
    def lap(key: Column, scale: Double): Column = {
      val u = (conv(substring(md5(key), 1, 15), 16, 10).cast("double") + 0.5) /
        math.pow(16, 15)
      val c = u - 0.5
      -lit(scale) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c))
    }
    val q = Tables.events(s, dir)
      .groupBy(expr("(unix_micros(ts) % 86400000000) div 3600000000").as("hod"))
      .agg(count(lit(1)).as("q_true"))
    val t = q.agg((sum("q_true") / count(lit(1))).as("t_exact"))
      .withColumn("t_noisy", col("t_exact") + lap(lit("svt:threshold"), 2 * b))
    val w = Window.orderBy("hod").rowsBetween(Window.unboundedPreceding, -1)
    q.crossJoin(broadcast(t))
      .withColumn("q_noisy", col("q_true") + lap(concat(lit("svt:q:"), col("hod")), 4 * b))
      .withColumn("hit", (col("q_noisy") >= col("t_noisy")).cast("long"))
      .withColumn("prior_hits", coalesce(sum("hit").over(w), lit(0L)))
      .select(col("hod"), col("q_true"),
        round(col("q_noisy"), 6).as("q_noisy"),
        round(col("t_noisy"), 6).as("t_noisy"),
        (col("prior_hits") < 3).as("evaluated"),
        (col("prior_hits") < 3 && col("hit") === 1L).as("above"))
      .orderBy("hod")
  }

  /** #47e lakehouse MERGE (apply-changes): the first temporal half's
    * latest-wins state is the base snapshot; the second half becomes a
    * change feed whose ops are a deterministic md5 coin (1-in-10
    * deletes, rest upserts); [[graft.ops.Upsert.applyChanges]] folds
    * feed onto base. Exercises all three merge arms — delete of an
    * existing key, update of an existing key, insert of a new key —
    * against a full-outer-join oracle. */
  def mergeApply(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    val mid = ev.agg(((min(col("ts_us")) + max(col("ts_us"))) / 2).cast("long").as("m"))
    val tagged = ev.crossJoin(broadcast(mid))
    val base = Upsert.latestWins(
      tagged.filter(col("ts_us") <= col("m")).drop("m"),
      Seq("user_id", "event_type"), "ts_us", Seq("event_id"))
    val changes = tagged.filter(col("ts_us") > col("m")).drop("m")
      .withColumn("op",
        when(pmod(conv(substring(md5(col("event_id").cast("string")), 1, 15),
          16, 10).cast("long"), lit(10L)) === 0, lit("delete"))
          .otherwise(lit("upsert")))
    Upsert.applyChanges(base, changes,
        Seq("user_id", "event_type"), "op", "ts_us", Seq("event_id"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us"), round(col("value"), 6).as("value"))
      .orderBy("user_id", "event_type")
  }

  /** #47f CDC loop closure: snapshot(≤mid) + second-half feed applied
    * through [[graft.ops.Upsert.applyChanges]] must EQUAL the
    * latest-wins state over the whole range — verified in-engine by
    * [[graft.ops.Snapshot.diff]] coming back empty, with the counts
    * hash-checked. The upsert/compact/diff triangle closing exactly is
    * the property that makes incremental ingestion trustworthy: a
    * pipeline can re-derive any snapshot from an older one plus the
    * intervening feed. */
  def cdcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("user_id", "event_type")
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    val mid = ev.agg(((min(col("ts_us")) + max(col("ts_us"))) / 2).cast("long").as("m"))
    val tagged = ev.crossJoin(broadcast(mid))
    val base = Upsert.latestWins(
      tagged.filter(col("ts_us") <= col("m")).drop("m"), keys, "ts_us", Seq("event_id"))
    val feed = tagged.filter(col("ts_us") > col("m")).drop("m")
      .withColumn("op", lit("upsert"))
    val result = Upsert.applyChanges(base, feed, keys, "op", "ts_us", Seq("event_id"))
    val target = Upsert.latestWins(ev, keys, "ts_us", Seq("event_id"))
    val d = graft.ops.Snapshot.diff(result, target, keys,
      Seq("event_id", "ts_us", "value"))
    base.agg(count(lit(1)).as("n_base"))
      .crossJoin(target.agg(count(lit(1)).as("n_target")))
      .crossJoin(result.agg(count(lit(1)).as("n_result")))
      .crossJoin(d.agg(count(lit(1)).as("n_diff")))
      .select("n_base", "n_target", "n_result", "n_diff")
  }

  /** #19r Fellegi–Sunter record-linkage scoring (probabilistic ER):
    * bucket-blocked document pairs scored by summed log-likelihood
    * field weights — agree on a field adds ln(m/u), disagree adds
    * ln((1−m)/(1−u)) — with (m, u) pinned per field (lang 0.95/0.3,
    * source 0.9/0.05, 16-char text prefix 0.8/0.001) and the weights
    * inlined as 6-dp literals so both engines sum identical doubles.
    * Top-50 pairs by score; the planted re-posts surface at the top
    * through the high-discrimination prefix field.
    *
    * Scale shape: the pair space is blocked on the n_chars/100 band
    * (never all-pairs); at corpus scale the block key would be a
    * proper blocking vector and (m, u) would come from EM — the
    * scoring algebra is what this operator pins. */
  /** Blocked comparison pairs with per-field agreement flags — shared
    * by [[erScores]] (pinned-weight scoring) and [[erEmWeights]]
    * (EM-fitted weights), the two halves of Fellegi-Sunter linkage. */
  private def erPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        substring(col("text"), 1, 16).as("pfx"),
        expr("n_chars div 100").as("blk"))
    def side(p: String) = d.select(d.columns.map(c => col(c).as(p + c)): _*)
    side("a_").join(side("b_"),
        col("a_blk") === col("b_blk") && col("a_doc_id") < col("b_doc_id"))
      .select(col("a_doc_id"), col("b_doc_id"),
        (col("a_lang") === col("b_lang")).as("lang_eq"),
        (col("a_source") === col("b_source")).as("src_eq"),
        (col("a_pfx") === col("b_pfx")).as("pfx_eq"))
  }

  def erScores(s: SparkSession, dir: String): DataFrame =
    erPairs(s, dir)
      .select(col("a_doc_id"), col("b_doc_id"),
        col("lang_eq"), col("src_eq"), col("pfx_eq"),
        round(
          when(col("lang_eq"), lit(1.15268)).otherwise(lit(-2.639057))
            + when(col("src_eq"), lit(2.890372)).otherwise(lit(-2.251292))
            + when(col("pfx_eq"), lit(6.684612)).otherwise(lit(-1.608437)),
          6).as("score"))
      .orderBy(desc("score"), col("a_doc_id"), col("b_doc_id"))
      .limit(50)

  /** #19s EM-fitted Fellegi-Sunter parameters — the LEARNING half of
    * record linkage next to [[erScores]]' pinned-weight scoring: fit
    * the two-class mixture over the 8-row agreement-pattern census
    * (per-field match probabilities m_k among true matches, u_k among
    * non-matches, match prevalence λ) by two unrolled EM iterations
    * from the canonical (λ=0.1, m=0.9, u=0.1) start.
    *
    * Scale + exactness: the blocked pair scan reduces to ≤ 8 pattern
    * rows in one aggregation; every E-step responsibility is a pinned
    * scalar double, and each weighted count w·n rounds to integer
    * micro-units BEFORE the M-step sums (round-then-sum), so the
    * fitted parameters are ratios of exact integers. Output: one row
    * per field with m, u, and the ln(m/u) agreement weight, plus λ. */
  def erEmWeights(s: SparkSession, dir: String): DataFrame = {
    val pats = erPairs(s, dir)
      .groupBy(col("lang_eq").cast("int").as("g1"),
        col("src_eq").cast("int").as("g2"),
        col("pfx_eq").cast("int").as("g3"))
      .agg(count(lit(1)).as("np"))
    import s.implicits._
    val init = Seq((0.1, 0.9, 0.9, 0.9, 0.1, 0.1, 0.1))
      .toDF("lam", "m1", "m2", "m3", "u1", "u2", "u3")
    def emIter(params: DataFrame): DataFrame = {
      def pick(g: String, p: String) =
        when(col(g) === 1, col(p)).otherwise(lit(1.0) - col(p))
      val pm = pick("g1", "m1") * pick("g2", "m2") * pick("g3", "m3")
      val pu = pick("g1", "u1") * pick("g2", "u2") * pick("g3", "u3")
      val w = col("lam") * pm / (col("lam") * pm + (lit(1.0) - col("lam")) * pu)
      val t = pats.crossJoin(broadcast(params))
        .withColumn("wn", round(w * col("np") * 1000000L, 0).cast("long"))
        .withColumn("tn", col("np") * 1000000L)
      def mUp(g: String) =
        sum(when(col(g) === 1, col("wn")).otherwise(0L)) /
          sum(col("wn"))
      def uUp(g: String) =
        sum(when(col(g) === 1, col("tn") - col("wn")).otherwise(0L)) /
          sum(col("tn") - col("wn"))
      t.agg((sum("wn") / sum("tn")).as("lam"),
        mUp("g1").as("m1"), mUp("g2").as("m2"), mUp("g3").as("m3"),
        uUp("g1").as("u1"), uUp("g2").as("u2"), uUp("g3").as("u3"))
    }
    val fitted = emIter(emIter(init))
    val fields = Seq(("lang", "m1", "u1"), ("source", "m2", "u2"),
      ("prefix16", "m3", "u3"))
    fields.map { case (name, m, u) =>
      fitted.select(lit(name).as("field"),
        round(col(m), 6).as("m"), round(col(u), 6).as("u"),
        when(col(u) > 0 && col(m) > 0,
          round(log(col(m) / col(u)), 6)).as("ln_weight"),
        round(col("lam"), 6).as("lam"))
    }.reduce(_ unionAll _).orderBy("field")
  }

  /** #4g' Levenshtein-rule equivalence on real pairs: the SQL-text
    * `levenshtein(a, b) <= 2` predicate is rewritten by
    * [[graft.plans.ThresholdLevenshteinRule]] to the banded
    * `levenshtein(a, b, 2) >= 0` form (O(k·n) with early bail-out);
    * the DuckDB oracle computes the UN-banded distance, so the hash
    * match proves the rewrite semantics-preserving — upgrading the rule
    * from spec-only to engine-cross-checked.
    *
    * Blocking is COMPOUND (nation × the first 3 digits of the name's
    * numeric suffix), the standard ER prefix-blocking discipline: a
    * nation-only key has constant cardinality (25 blocks), so the pair
    * space grows n²/25 — quadratic at 100×. The digit-prefix component
    * multiplies block cardinality by 10³ while keeping every
    * same-prefix near-pair (names share the constant "Customer#"
    * literal, so length bands or first-char classes would not
    * subdivide); pairs differing inside the blocking prefix are out of
    * the query's scope by definition, exactly as in [[erScores]]'
    * n_chars-band blocking. Mirrored in the oracle. */
  def levPrefilter(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_nationkey"), substring(col("c_name"), 10, 3).as("pfx3"),
        col("c_name"))
    // The blocked self-join's INPUTS are tiny in bytes, so AQE coalesces
    // the join's shuffle reads to ~1 partition — and the banded
    // levenshtein verify fused into the join stage (huge per-row CPU)
    // then runs on one core. Explicit block-key repartitions pin the
    // join stage's width (user repartitions are exempt from AQE
    // coalescing, and the join reuses the layout exchange-free), so the
    // verify runs one task per block instead.
    val a = c.select(col("c_nationkey"), col("pfx3"), col("c_name").as("a_name"))
      .repartition(s.sparkContext.defaultParallelism, col("c_nationkey"), col("pfx3"))
    val b = c.select(col("c_nationkey"), col("pfx3"), col("c_name").as("b_name"))
      .repartition(s.sparkContext.defaultParallelism, col("c_nationkey"), col("pfx3"))
    a.join(b, Seq("c_nationkey", "pfx3"))
      .filter(col("a_name") < col("b_name"))
      .filter(expr("levenshtein(a_name, b_name) <= 2"))
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_close_pairs"))
      .orderBy("c_nationkey")
  }

  /** #3j returned-revenue customer ranking (TPC-H Q10 shape): customers
    * ranked by exact-cents revenue of their returned line items — the
    * churn-risk triage list. Fact side filtered at the scan
    * (l_returnflag pushdown), customer dim broadcast, global top-20 via
    * TakeOrderedAndProject (never a full sort). */
  def returnedTopCustomers(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long"))
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
    rev.join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        round(col("cents") / 100.0, 2).as("lost_revenue"))
      .orderBy(desc("lost_revenue"), col("c_custkey")).limit(20)
  }

  /** #3k market-share trend (TPC-H Q8 shape): per order-year, the share
    * of PROMO-segment exact-cents revenue supplied by NATION_7's
    * suppliers — the ratio-of-conditional-sums-within-group shape. One
    * fact scan, two broadcast dims, one year-keyed aggregate. */
  def marketShare(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.part(s, dir)
        .filter(col("p_type") === "PROMO").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(sum("cents").as("tot_cents"),
        sum(when(col("s_nationkey") === 7, col("cents")).otherwise(0L))
          .as("nat_cents"))
      .select(col("o_year"), round(col("tot_cents") / 100.0, 2).as("total_revenue"),
        round(col("nat_cents").cast("double") / col("tot_cents"), 6).as("mkt_share"))
      .orderBy("o_year")

  /** #36c leave-one-source-out ablation: for every source, the corpus
    * statistics the training mix would have WITHOUT it — the
    * data-valuation table curation teams consult before dropping or
    * re-weighting a feed ("removing src7 costs 4.8% of tokens and
    * moves mean quality by +0.002"). One per-source aggregation plus
    * one 1-row total joined back by broadcast — each ablated figure is
    * total-minus-group arithmetic on exact integers (whitespace token
    * counts; quality in integer micro-units after its 6-dp contract
    * round), never a second scan per source. */
  def sourceAblation(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("source"),
      TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tok"),
      round(round(TextAnalysis.qualityScore(col("text")), 6) * 1000000, 0)
        .cast("long").as("q_us"))
    val per = d.groupBy("source").agg(count(lit(1)).as("n_docs"),
      sum("n_tok").as("n_tokens"), sum("q_us").as("sum_q"))
    val tot = per.agg(sum("n_docs").as("t_docs"),
      sum("n_tokens").as("t_tokens"), sum("sum_q").as("t_q"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 10000 div t_tokens").as("token_share_bp"),
        (col("t_docs") - col("n_docs")).as("docs_wo"),
        (col("t_tokens") - col("n_tokens")).as("tokens_wo"),
        round((col("t_tokens") - col("n_tokens"))
          / (col("t_docs") - col("n_docs")), 6).as("mean_tokens_wo"),
        round((col("t_q") - col("sum_q"))
          / (col("t_docs") - col("n_docs")) / lit(1000000.0), 6)
          .as("mean_quality_wo"))
      .orderBy("source")
  }

  /** #7u price elasticity of demand — the log-log regression behind
    * every discount decision: slope of ln(quantity) on
    * ln(1 − discount) across lineitems (same part, varying discount →
    * the discount multiplier is the price shifter). Both logs round
    * to integer NANO units per row before aggregation, so the five
    * regression moments are exact integers (DECIMAL(38,0) cross
    * moments vs HUGEINT) and slope/intercept are single double
    * divisions — no float-order-sensitive `regr_slope`. One scan, one
    * 1-row aggregate. */
  def priceElasticity(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(
        expr("cast(round(ln(1 - l_discount)*1e9, 0) as bigint)").as("x"),
        expr("cast(round(ln(l_quantity)*1e9, 0) as bigint)").as("y"))
    li.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
      .select(col("n"),
        expr("""round(cast(cast(n as decimal(38,0))*sxy - cast(sx as decimal(38,0))*sy as double)
          / cast(cast(n as decimal(38,0))*sxx - cast(sx as decimal(38,0))*sx as double), 6)""")
          .as("elasticity"),
        expr("""round((sy - cast(cast(n as decimal(38,0))*sxy - cast(sx as decimal(38,0))*sy as double)
          / cast(cast(n as decimal(38,0))*sxx - cast(sx as decimal(38,0))*sx as double) * sx)
          / n / 1e9, 6)""").as("intercept_ln_q"))
  }

  /** #7v Laspeyres / Paasche / Fisher price index, 1995 → 1996 — the
    * composition-free answer to "did prices rise" that
    * [[priceVolumeMix]]'s mix split motivates. Per part-year unit
    * price is the exact rational Σcents/Σqty; the cross terms
    * p₁·q₀ and p₀·q₁ round to integer cents per part BEFORE the
    * basket sum (round-then-sum), while the matching own-year basket
    * values Σp₀q₀ = Σcents₀ and Σp₁q₁ = Σcents₁ are exact sums.
    * Only parts sold in BOTH years enter (the matched basket). One
    * fact scan, one part-year aggregate, one self-join on partkey. */
  def priceIndex(s: SparkSession, dir: String): DataFrame = {
    // One fact scan: both years pivot out as conditional sums per part
    // (a self-join of the part-year aggregate would scan + join the
    // fact table twice).
    val yr = year(col("o_orderdate"))
    val cents = round(col("l_extendedprice") * 100, 0).cast("long")
    val qty = col("l_quantity").cast("long")
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(yr.isin(1995, 1996))
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(when(yr === 1995, cents)).as("sc0"),
        sum(when(yr === 1995, qty)).as("sq0"),
        sum(when(yr === 1996, cents)).as("sc1"),
        sum(when(yr === 1996, qty)).as("sq1"))
      .filter(col("sq0").isNotNull && col("sq1").isNotNull)
      .select(col("sc0"), col("sc1"),
        expr("cast(round(cast(sc1 as double)*sq0/sq1, 0) as bigint)").as("p1q0"),
        expr("cast(round(cast(sc0 as double)*sq1/sq0, 0) as bigint)").as("p0q1"))
      .agg(count(lit(1)).as("n_parts"), sum("sc0").as("v00"),
        sum("sc1").as("v11"), sum("p1q0").as("v10"), sum("p0q1").as("v01"))
      .select(col("n_parts"),
        expr("round(cast(v10 as double)/v00, 6)").as("laspeyres"),
        expr("round(cast(v11 as double)/v01, 6)").as("paasche"),
        expr("round(sqrt(cast(v10 as double)/v00 * (cast(v11 as double)/v01)), 6)")
          .as("fisher"))
  }

  /** #7w monthly seasonal index of order revenue — the
    * classical-decomposition ratio (month mean over grand monthly
    * mean) behind "is December really bigger". Exact integer cents
    * throughout; the index is the single exact rational
    * mc·N/(n_years·S) evaluated in double once (DECIMAL(38,0) guards
    * the cross products). One scan, one 12-row aggregate. */
  def revenueSeasonalIndex(s: SparkSession, dir: String): DataFrame = {
    val ym = Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mon"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val tot = ym.agg(count(lit(1)).as("n_cells"), sum("cents").as("s"))
    ym.groupBy("mon")
      .agg(count(lit(1)).as("n_years"), sum("cents").as("mc"))
      .crossJoin(broadcast(tot))
      .select(col("mon").cast("long").as("month"), col("n_years"),
        round(col("mc") / 100.0, 2).as("revenue"),
        expr("""round(cast(cast(mc as decimal(38,0)) * n_cells as double)
          / cast(cast(n_years as decimal(38,0)) * s as double), 6)""")
          .as("seasonal_index"))
      .orderBy("month")
  }

  /** #7x single-source supply risk: among multi-sourced parts, the 20
    * with the most concentrated top supplier — the procurement "one
    * supplier sneezes and this part stops" shortlist. Quantities are
    * exact integer sums; the top supplier per part is the bounded-heap
    * [[graft.plans.Graft.topKPerGroup]] (never a per-part sort);
    * share_bp is exact integer basis points and the global top-20 is
    * a TakeOrdered. */
  def singleSourceRisk(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val tot = ps.groupBy("pk")
      .agg(sum("q").as("total_qty"), count(lit(1)).as("n_suppliers"))
      .filter(col("n_suppliers") >= 2)
    val top = graft.plans.Graft.topKPerGroup(ps, Seq("pk"), "q", 1,
        descending = true, tiebreak = Seq("sk"))
      .select(col("pk"), col("sk").as("top_suppkey"), col("q").as("top_qty"))
    top.join(tot, "pk")
      .withColumn("share_bp", expr("top_qty * 10000 div total_qty"))
      .orderBy(col("share_bp").desc, col("pk"))
      .limit(20)
      .select(col("pk").as("p_partkey"), col("top_suppkey"), col("n_suppliers"),
        col("top_qty"), col("total_qty"), col("share_bp"))
  }

  /** #7y RFM monetary-quartile migration between the two order-date
    * halves — the CRM "who moved up, who lapsed" matrix on top of
    * [[rfmSegments]]'s static coding. Each half's quartile comes from
    * the same exact bucketed ntile the static coding uses (customers
    * are entity-scale; no single-task sort), absent halves code as
    * quartile 0 (new/churned rows), and the matrix is exact counts. */
  def rfmMigration(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ChronoSplit
    val o = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .withColumn("odus", expr("unix_micros(cast(o_orderdate as timestamp))"))
    val mid = o.agg(expr("(min(odus) + max(odus)) div 2").as("mid"))
    val sided = o.crossJoin(broadcast(mid))
      .withColumn("side", when(col("odus") <= col("mid"), 0L).otherwise(1L))
    def quart(side: Long, out: String) = ChronoSplit.withNtile(
        sided.filter(col("side") === side).groupBy("o_custkey")
          .agg(sum("cents").as("cents")).withColumn("neg_m", -col("cents")),
        "neg_m", "o_custkey", 4, out)
      .select(col("o_custkey"), col(out))
    quart(0L, "q_from").join(quart(1L, "q_to"), Seq("o_custkey"), "full_outer")
      .groupBy(coalesce(col("q_from"), lit(0L)).as("q_from"),
        coalesce(col("q_to"), lit(0L)).as("q_to"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("q_from", "q_to")
  }

  /** #7z cart abandonment by day — the product metric behind every
    * checkout redesign: of each day's gap-sessions that showed intent
    * (a click), how many ended without a purchase. Sessions are the
    * repo's standard 30-minute islands ([[graft.ops.Sessionize]]);
    * intent/conversion flags are exact max-of-indicator aggregates;
    * the rate is exact integer basis points. */
  def cartAbandonment(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Sessionize.sessions(
      Tables.events(s, dir), "user_id", "ts", 30L * 60 * 1000000, "event_id",
      max(when(col("event_type") === "click", 1L).otherwise(0L)).as("has_click"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("has_purchase"))
    sess.groupBy(expr("session_start_us div 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("n_sessions"),
        sum("has_click").as("n_intent"),
        sum(when(col("has_click") === 1L && col("has_purchase") === 0L, 1L)
          .otherwise(0L)).as("n_abandoned"))
      .withColumn("abandon_bp",
        expr("case when n_intent > 0 then n_abandoned * 10000 div n_intent end"))
      .orderBy("day_idx")
  }

  /** #7aa peak-hour shift between time halves — "did the daily rhythm
    * move": per type and half, the modal hour-of-day (exact counts,
    * ties to the earliest hour via the (n DESC, hour) total order) and
    * the signed shift. Hour axes are pure epoch arithmetic; the argmax
    * runs over the 24-row post-aggregate grid. */
  def peakHourShift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    val grid = ev.crossJoin(broadcast(mid))
      .groupBy(col("event_type"),
        when(col("ts_us") <= col("mid"), 0L).otherwise(1L).as("half"),
        expr("(ts_us div 3600000000) % 24").as("hod"))
      .agg(count(lit(1)).as("n"))
    val top = grid.withColumn("rk", row_number().over(
        Window.partitionBy("event_type", "half")
          .orderBy(col("n").desc, col("hod"))))
      .filter(col("rk") === 1)
    val a = top.filter(col("half") === 0).select(col("event_type"),
      col("hod").as("peak_hour_h1"), col("n").as("n_h1"))
    val b = top.filter(col("half") === 1).select(col("event_type"),
      col("hod").as("peak_hour_h2"), col("n").as("n_h2"))
    a.join(b, "event_type")
      .withColumn("shift_hours", col("peak_hour_h2") - col("peak_hour_h1"))
      .orderBy("event_type")
  }

  /** #7ab day-N retention curve — P(active on day d+n | active on
    * day d) pooled over all base days, n = 1…7: the growth team's
    * curve behind "do users come back". The (user, day) activity set
    * self-joins per user (per-user day lists are calendar-bounded, so
    * the pair space is |users|·days², never events²); denominators
    * count base days that HAVE an observable day d+n inside the data
    * window. All integers until the one display division. */
  def retentionDayn(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .distinct()
    val maxd = ud.agg(max("d").as("maxd"))
    val matched = ud.as("a")
      .join(ud.as("b"), col("a.user_id") === col("b.user_id")
        && (col("b.d") - col("a.d")).between(1, 7))
      .groupBy((col("b.d") - col("a.d")).as("offset_days"))
      .agg(count(lit(1)).as("n_retained"))
    val base = ud.crossJoin(broadcast(maxd))
      .select(explode(sequence(lit(1L), lit(7L))).as("offset_days"),
        col("d"), col("maxd"))
      .filter(col("d") + col("offset_days") <= col("maxd"))
      .groupBy("offset_days").agg(count(lit(1)).as("n_base"))
    base.join(matched, Seq("offset_days"), "left")
      .withColumn("n_retained", coalesce(col("n_retained"), lit(0L)))
      .select(col("offset_days"), col("n_base"), col("n_retained"),
        expr("round(cast(n_retained as double)/n_base, 6)").as("retention"))
      .orderBy("offset_days")
  }

  /** #51d embedding anisotropy audit — the "is the space collapsing
    * toward a cone" number (‖μ‖² over the mean squared norm) that
    * gates cosine-similarity use of an embedding table. Elements
    * quantize to the emb-family's exact 1e4 grid; per-dimension sums
    * and the total squared norm are exact integers, so the ratio
    * Σ_d s_d² / (n·Σ‖v‖²) is one exact-rational double. One explode,
    * one dim-keyed aggregate (d rows), one 1-row reduce. */
  def embAnisotropy(s: SparkSession, dir: String): DataFrame = {
    val x = Tables.embeddings(s, dir)
      .select(posexplode(transform(col("embedding"),
        v => round(v.cast("double") * lit(10000.0d)).cast("long"))))
      .select(col("pos"), col("col").as("q"))
    val dims = x.groupBy("pos").agg(sum("q").as("s_d"),
      sum(expr("cast(q as decimal(38,0)) * q")).as("ssq_d"),
      count(lit(1)).as("n"))
    dims.agg(max("n").as("n_vectors"), count(lit(1)).as("dim"),
        sum(expr("cast(s_d as decimal(38,0)) * s_d")).as("ssum"),
        sum("ssq_d").as("ssq"))
      .select(col("n_vectors"), col("dim"),
        expr("round(sqrt(cast(ssq as double)/n_vectors)/1e4, 6)").as("rms_norm"),
        expr("round(cast(ssum as double)/cast(cast(n_vectors as decimal(38,0))*ssq as double), 6)")
          .as("anisotropy"))
  }

  /** #13k exponentially time-decayed item popularity — the freshness-
    * aware ranking signal every trending list uses (half-life 30 days
    * on the order date). Each lineitem contributes
    * exp(−age·ln 2/30)·quantity, nano-rounded per ROW before the
    * per-item sum (round-then-sum, so float order can't move the
    * ranking), and the top 20 is a TakeOrdered on the exact integer
    * score. The reference date is a 1-row broadcast. */
  def itemDecayedPop(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("q"),
        expr("unix_micros(cast(o_orderdate as timestamp))").as("odus"))
    val ref = li.agg(max("odus").as("refus"))
    li.crossJoin(broadcast(ref))
      .withColumn("age_days", expr("(refus - odus) div 86400000000"))
      .withColumn("term", expr(
        "cast(round(exp(-age_days * ln(2) / 30) * q * 1e9, 0) as bigint)"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"), sum("term").as("score_nano"))
      .orderBy(col("score_nano").desc, col("l_partkey"))
      .limit(20)
      .select(col("l_partkey"), col("n_lines"),
        expr("round(score_nano/1e9, 6)").as("decayed_popularity"))
  }

  /** #7ac DAU/MAU stickiness by day — the growth-team engagement
    * ratio: each day's active users over the distinct users of its
    * trailing 28 days. The (user, day) activity set is
    * calendar-bounded, so the 28-day range join fans out at most 28×
    * before the distinct count; the ratio is exact basis points. */
  def dauMauStickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .distinct()
    val days = ud.select(col("d").as("day_idx")).distinct()
    val mau = days.join(ud,
        col("d").between(col("day_idx") - 27, col("day_idx")))
      .groupBy("day_idx").agg(countDistinct("user_id").as("mau"))
    val dau = ud.groupBy(col("d").as("day_idx"))
      .agg(count(lit(1)).as("dau"))
    dau.join(mau, "day_idx")
      .withColumn("stickiness_bp", expr("dau * 10000 div mau"))
      .orderBy("day_idx")
  }

  /** #27d multinomial naive-Bayes language classifier — the LEARNED
    * companion to `text_lang_id`'s fixed heuristic: Laplace-smoothed
    * per-(lang, token) log-likelihoods fit on the even-id half,
    * argmax-scored on the odd-id half, reported as the test confusion
    * matrix + accuracy. Every log term rounds to integer NANO units at
    * the model (not the document), so each document score is an EXACT
    * long sum — token order can never flip an argmax; ties break to
    * the lexicographically first language. The per-class constants are
    * 5-row broadcasts; the token-weight join keys on (lang, token). */
  def nbLangClassify(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
    val train = docs.filter(col("doc_id") % 2 === 0)
    val test = docs.filter(col("doc_id") % 2 === 1)
    val trainToks = train
      .select(col("lang"), explode(split(col("t"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = trainToks.select("tok").distinct().agg(count(lit(1)).as("v"))
    val totals = trainToks.groupBy("lang").agg(count(lit(1)).as("t_l"))
    val priors = train.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val weights = trainToks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .join(broadcast(totals), "lang").crossJoin(broadcast(vocab))
      .withColumn("w", expr(
        "cast(round(ln((c + 1)/cast(t_l + v as double))*1e9, 0) as bigint)"))
      .select(col("lang").as("cand"), col("tok"), col("w"))
    val langInfo = totals.join(priors, "lang").crossJoin(broadcast(vocab))
      .crossJoin(broadcast(nTrain))
      .withColumn("w_default",
        expr("cast(round(ln(1/cast(t_l + v as double))*1e9, 0) as bigint)"))
      .withColumn("prior_nano",
        expr("cast(round(ln(cast(n_docs as double)/n_train)*1e9, 0) as bigint)"))
      .select(col("lang").as("cand"), col("w_default"), col("prior_nano"))
    val testToks = test.select(col("doc_id"), col("lang").as("true_lang"),
        explode(split(col("t"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val scored = testToks.crossJoin(broadcast(langInfo))
      .join(weights, Seq("cand", "tok"), "left")
      .withColumn("wc", coalesce(col("w"), col("w_default")))
      .groupBy("doc_id", "true_lang", "cand", "prior_nano")
      .agg(sum("wc").as("sw"))
      .withColumn("score", col("prior_nano") + col("sw"))
    val win = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand"))
    val pred = scored.withColumn("rk", row_number().over(win))
      .filter(col("rk") === 1)
    val acc = pred.agg(count(lit(1)).as("n_test"),
      sum(when(col("true_lang") === col("cand"), 1L).otherwise(0L)).as("n_correct"))
    pred.groupBy(col("true_lang"), col("cand").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(acc))
      .select(col("true_lang"), col("pred_lang"), col("n"),
        expr("round(cast(n_correct as double)/n_test, 6)").as("accuracy"))
      .orderBy("true_lang", "pred_lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "search_tau"        -> (searchTau _),
    "eval_err"          -> (evalErr _),
    "vocab_chao1"       -> (vocabChao1 _),
    "token_dice"        -> (tokenDice _),
    "palma_ratio"       -> (palmaRatio _),
    "term_burstiness"   -> (termBurstiness _),
    "newsvendor_stock"  -> (newsvendorStock _),
    "dedup_bag"         -> (dedupBag _),
    "dp_svt"            -> (dpSvt _),
    "attribution_position" -> (attributionPosition _),
    "benford_digit2"    -> (benfordDigit2 _),
    "session_bounce"    -> (sessionBounce _),
    "nb_lang_classify"  -> (nbLangClassify _),
    "item_decayed_pop"  -> (itemDecayedPop _),
    "dau_mau"           -> (dauMauStickiness _),
    "emb_anisotropy"    -> (embAnisotropy _),
    "cart_abandonment"  -> (cartAbandonment _),
    "peak_hour_shift"   -> (peakHourShift _),
    "retention_dayn"    -> (retentionDayn _),
    "revenue_seasonal_index" -> (revenueSeasonalIndex _),
    "single_source_risk" -> (singleSourceRisk _),
    "rfm_migration"     -> (rfmMigration _),
    "price_elasticity"  -> (priceElasticity _),
    "price_index"       -> (priceIndex _),
    "sample_neyman"     -> (sampleNeyman _),
    "mi_matrix"         -> (miMatrix _),
    "link_adamic_adar"  -> (linkAdamicAdar _),
    "link_jaccard"      -> (linkJaccard _),
    "graph_communities" -> (graphCommunities _),
    "graph_modularity"  -> (graphModularity _),
    "source_ablation"   -> (sourceAblation _),
    "merge_apply"       -> (mergeApply _),
    "cdc_roundtrip"     -> (cdcRoundtrip _),
    "er_scores"         -> (erScores _),
    "er_em_weights"     -> (erEmWeights _),
    "doc_lang_mix"      -> (docLangMix _),
    "drift_timeline"    -> (driftTimeline _),
    "graph_bridges"     -> (graphBridges _),
    "corpus_diet"       -> (corpusDiet _),
    "markov_sojourn"    -> (markovSojourn _),
    "lev_prefilter"     -> (levPrefilter _),
    "returned_top_customers" -> (returnedTopCustomers _),
    "market_share"      -> (marketShare _),
    "decontam_bloom"    -> (decontamBloom _),
    "chunk_cdc"         -> (chunkCdc _),
    "chrono_split_user" -> (chronoSplitUser _),
    "events_histogram"  -> (eventsHistogram _),
    "heavy_hitters"     -> (heavyHittersTokens _),
    "bpe_pairs"         -> (bpePairs _),
    "text_diversity"    -> (textDiversity _),
    "corpus_distinct_n" -> (corpusDistinctN _),
    "text_skipgram"     -> (textSkipgram _),
    "cm_sketch"         -> (cmSketchTokens _),
    "join_incremental"  -> (joinIncremental _),
    "corpus_zipf"       -> (corpusZipf _),
    "text_charset"      -> (textCharset _),
    "funnel_ttc"        -> (funnelTtc _),
    "skew_profile"      -> (skewProfileUsers _),
    "corpus_ccnet"      -> (corpusCcnet _),
    "tfidf_search"      -> (tfidfSearch _),
    "ql_search"         -> (qlSearch _),
    "textrank_keywords" -> (textrankKeywords _),
    "token_pmi"         -> (tokenPmi _),
    "token_chi2"        -> (tokenChi2 _),
    "quality_calibrate" -> (qualityCalibrate _),
    "agg_incremental"   -> (aggIncremental _),
    "zorder_cells"      -> (zorderCells _),
    "table_checksum"    -> (tableChecksum _),
    "events_corr"       -> (eventsCorr _),
    "events_acf"        -> (eventsAcf _),
    "events_spearman"   -> (eventsSpearman _),
    "interval_coalesce" -> (intervalCoalesce _),
    "scd2_history"      -> (scd2History _),
    "snapshot_diff"     -> (snapshotDiff _),
    "item_cooc"         -> (itemCooc _),
    "rec_coverage"      -> (recCoverage _),
    "graph_assortativity" -> (graphAssortativity _),
    "drift_ks"          -> (driftKs _),
    "rolling_hll"       -> (rollingHll _),
    "events_debounce"   -> (eventsDebounce _),
    "events_cusum"      -> (eventsCusum _),
    "search_rrf"        -> (searchRrf _),
    "search_rbo"        -> (searchRbo _),
    "pareto_parts"      -> (paretoParts _),
    "events_gapfill"    -> (eventsGapfill _),
    "revenue_growth"    -> (revenueGrowth _),
    "profile_table"     -> (profileTable _),
    "ri_orphans"        -> (riOrphans _),
    "rfm_segments"      -> (rfmSegments _),
    "benford_revenue"   -> (benfordRevenue _),
    "ab_ttest"          -> (abTtest _),
    "part_best_supplier" -> (partBestSupplier _),
    "lead_time"         -> (leadTime _),
    "supplier_hhi"      -> (supplierHhi _),
    "events_interarrival" -> (eventsInterarrival _),
    "events_ewma"       -> (eventsEwma _),
    "croston_forecast"  -> (crostonForecast _),
    "k_anonymity"       -> (kAnonymity _),
    "doc_keywords"      -> (docKeywords _),
    "events_theilsen"   -> (eventsTheilsen _),
    "user_churn"        -> (userChurn _),
    "fanout_profile"    -> (fanoutProfile _),
    "vocab_coverage"    -> (vocabCoverage _),
    "doc_sentences"     -> (docSentences _),
    "forget_users"      -> (forgetUsers _),
    "scd2_lookup"       -> (scd2Lookup _),
    "events_heatmap"    -> (eventsHeatmap _),
    "rollup_reuse"      -> (rollupReuse _),
    "events_geomean"    -> (eventsGeomean _),
    "quantile_norm"     -> (quantileNorm _),
    "user_cumulative"   -> (userCumulative _),
    "revenue_lorenz"    -> (revenueLorenz _),
    "catalog_coverage"  -> (catalogCoverage _),
    "class_rebalance"   -> (classRebalance _),
    "weighted_median"   -> (weightedMedian _),
    "events_streaks"    -> (eventsStreaks _),
    "target_encode"     -> (targetEncode _),
    "feature_hash"      -> (featureHash _),
    "best_split"        -> (bestSplit _),
    "price_volume_mix"  -> (priceVolumeMix _),
    "new_repeat_revenue" -> (newRepeatRevenue _),
    "doc_readability"   -> (docReadability _),
    "kwic_snippets"     -> (kwicSnippets _),
    "events_seasonal_anomaly" -> (eventsSeasonalAnomaly _),
    "rank_movers"       -> (rankMovers _),
    "repeat_latency"    -> (repeatLatency _),
    "segment_brand_lift" -> (segmentBrandLift _),
    "events_percentile_series" -> (eventsPercentileSeries _),
    "vec_profile"       -> (vecProfile _),
    "corpus_datacard"   -> (corpusDatacard _),
    "drift_psi"         -> (driftPsi _),
    "lang_entropy"      -> (langEntropy _),
    "user_overlap"      -> (userOverlap _),
    "attribution"       -> (attribution _),
    "rolling_distinct"  -> (rollingDistinct _),
    "events_markov"     -> (eventsMarkov _),
    "sample_weighted"   -> (sampleWeighted _),
    "agg_skew_salted"   -> (aggSkewSalted _),
    "text_normalize"    -> (textNormalize _),
    "text_unaccent"     -> (textUnaccent _),
    "events_json"       -> (eventsJson _),
    "events_moving_avg" -> (eventsMovingAvg _),
    "events_regression" -> (eventsRegression _),
    "corpus_chi2"       -> (corpusChi2 _),
    "cv_folds"          -> (cvFolds _),
    "corpus_powerlaw"   -> (corpusPowerlaw _),
    "events_anomaly"    -> (eventsAnomaly _),
    "dedup_rate_source" -> (dedupRateBySource _),
    "events_eqdepth"    -> (eventsEqdepth _),
    "robust_scale"      -> (robustScaleEvents _),
    "text_ngram_repetition" -> (textNgramRepetition _),
    "zscore_events"     -> (zscoreEvents _),
    "winsorize_events"  -> (winsorizeEvents _),
    "text_novelty"      -> (textNovelty _),
    "bm25_search"       -> (bm25Search _),
    "inverted_index"    -> (invertedIndex _),
    "upsert_latest"     -> (upsertLatest _),
    "lm_bigram_vocab"   -> (lmBigramVocab _),
    "lm_bigram_score"   -> (lmBigramScore _),
    "decontam_semantic" -> (decontamSemantic _),
    "quality_band"      -> (qualityBand _),
    "corpus_shuffle"    -> (corpusShuffle _),
    "chunk_windows"     -> (chunkWindows _),
    "lm_vocab"          -> (lmVocab _),
    "lm_goodturing"     -> (lmGoodTuring _),
    "vocab_drift"       -> (vocabDrift _),
    "corpus_heaps"      -> (corpusHeaps _),
    "revenue_theil"     -> (revenueTheil _),
    "lm_score"          -> (lmScore _),
    "skew_join"         -> (skewJoin _),
    "bloom_join"        -> (bloomJoinQuery _),
    "domain_cap"        -> (domainCap _),
    "l_diversity"       -> (lDiversity _),
    "t_closeness"       -> (tCloseness _),
    "events_mannwhitney" -> (eventsMannWhitney _),
    "eval_bootstrap"    -> (evalBootstrap _),
    "events_runs_test"  -> (eventsRunsTest _),
    "fd_audit"          -> (fdAudit _),
    "corr_matrix"       -> (corrMatrix _),
    "emb_covariance"    -> (embCovariance _),
    "emb_pca"           -> (embPca _),
    "emb_mahalanobis"   -> (embMahalanobis _),
    "emb_whiten"        -> (embWhiten _),
    "text_compress_gate" -> (textCompressGate _),
    "key_overlap"       -> (keyOverlapProfile _),
    "backtest_folds"    -> (backtestFolds _),
    "quantile_bins"     -> (quantileBinsQuery _),
    "dp_counts"         -> (dpCounts _),
    "sketch_profile"    -> (sketchProfile _),
    "text_bm25"         -> (textBm25 _),
    "sample_temperature" -> (sampleTemperature _),
    "corpus_mix"        -> (corpusMix _),
    "corpus_clean"      -> (corpusClean _),
    "text_repetition"   -> (textRepetition _),
    "text_redact"       -> (textRedact _),
    "chrono_split"     -> (chronoSplit _),
    "sample_hash"       -> (sampleHash _),
    "sample_stratified" -> (sampleStratified _),
    "pack_budget"       -> (packBudget _),
    "decontam_scan"     -> (decontamScan _),
    "corpus_stats"      -> (corpusStats _),
    "text_stats"       -> (textStats _),
    "text_quality"     -> (textQuality _),
    "text_lang_id"     -> (textLangId _),
    "langid_confusion" -> (langidConfusion _),
    "langid_kappa"     -> (langidKappa _),
    "text_fingerprint" -> (textFingerprint _),
    "dedup_exact"      -> (dedupExact _),
  )

  /** (score columns, best-score expr, CASE argmax expr) — the DuckDB
    * mirror of [[TextAnalysis.langId]], reusable in any query needing a
    * lang_id column. */
  private def langSql: (String, String, String) = {
    val hits = TextAnalysis.langProfiles.map { case (l, p) =>
      s"len(regexp_extract_all(lower(text), '$p')) AS s_$l"
    }.mkString(",\n        ")
    val best = TextAnalysis.langProfiles.map(p => "s_" + p._1).mkString(", ")
    val cases = TextAnalysis.langProfiles.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'"
    }.mkString(" ")
    (hits, best, s"CASE $cases ELSE 'und' END")
  }

  /** (doc_id, lang_id) relation body — the single expansion of the
    * lang-ID argmax nesting, shared by the lang-ID oracle and every
    * oracle needing a language column. */
  /** Exact decontamination truth (planted benchmark of substring
    * slices, 5-gram overlap) — shared by the exact scan and its
    * Bloom-prefiltered twin, which must produce the identical result. */
  private lazy val decontamTruthSql: String =
    """WITH ev AS (
      |  SELECT substring(text, 10, 120) AS text FROM documents WHERE doc_id % 25 = 0
      |), evtoks AS (
      |  SELECT regexp_extract_all(lower(text), '\S+') AS t FROM ev
      |), evsh AS (
      |  SELECT DISTINCT shingle FROM (
      |    SELECT array_to_string(t[j:j+4], ' ') AS shingle
      |    FROM (SELECT t, unnest(range(1, len(t) - 3)) AS j FROM evtoks WHERE len(t) >= 5))
      |), toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id, array_to_string(t[j:j+4], ' ') AS shingle
      |    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS j FROM toks
      |          WHERE len(t) >= 5))
      |)
      |SELECT sh.doc_id, count(*) AS n_hits
      |FROM sh JOIN evsh USING (shingle)
      |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin

  private lazy val langRelSql: String = {
    val (hits, best, caseExpr) = langSql
    s"""SELECT doc_id, $caseExpr AS lang_id FROM (
       |  SELECT doc_id, greatest($best) AS best, $best FROM (
       |    SELECT doc_id, text,
       |        $hits
       |    FROM documents)
       |)""".stripMargin
  }

  private lazy val langCase: String = langRelSql + "\nORDER BY doc_id"

  /** The shared integer quota-split CTE chain (√count weights,
    * largest-remainder top-up) over `src(key)`: counts → wts → tot →
    * based → def → quotas. Callers prepend `WITH` (plus any upstream
    * CTEs) and append the per-stratum draw. Mirrors
    * [[graft.ops.Sampling.temperatureQuota]] step for step. */
  private def quotaSplitSql(src: String, key: String, target: Long): String =
    s"""counts AS (
       |  SELECT $key, count(*)::BIGINT AS cnt FROM $src GROUP BY $key
       |), wts AS (
       |  SELECT $key, floor(sqrt(cnt))::BIGINT AS w FROM counts
       |), tot AS (
       |  SELECT sum(w)::BIGINT AS tw FROM wts
       |), based AS (
       |  SELECT $key, ($target * w) // tw AS base, ($target * w) % tw AS rem
       |  FROM wts CROSS JOIN tot
       |), def AS (
       |  SELECT ($target - sum(base))::BIGINT AS deficit FROM based
       |), quotas AS (
       |  SELECT $key,
       |    base + CASE WHEN row_number() OVER (ORDER BY rem DESC, $key)
       |                     <= deficit THEN 1 ELSE 0 END AS quota
       |  FROM based CROSS JOIN def
       |)""".stripMargin

  /** #42 end-to-end training-mix build: language-ID every document,
    * then draw a temperature-weighted (√count) per-language quota — the
    * composed step that turns a raw corpus into a balanced multilingual
    * mixture. Hash-checked end to end: lang CASE + integer quota split
    * + arithmetic draw all mirror in DuckDB. */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("lang_id", TextAnalysis.langId(col("text")))
    Sampling.temperatureQuota(docs, Seq("lang_id"),
      Seq(pmod(arithHash(col("doc_id"), 19L), lit(Sampling.Buckets)), col("doc_id")),
      200L)
      .select("doc_id", "lang_id")
      .orderBy("doc_id")
  }

  private lazy val corpusMixSql: String =
    s"""WITH langs AS (
       |${langRelSql}
       |), ${quotaSplitSql("langs", "lang_id", 200L)}
       |SELECT doc_id, lang_id FROM (
       |  SELECT l.doc_id, l.lang_id, q.quota,
       |    row_number() OVER (PARTITION BY l.lang_id
       |      ORDER BY ((l.doc_id % 1000000) * 2654435761 + 19) % 1000000,
       |        l.doc_id) AS rn
       |  FROM langs l JOIN quotas q USING (lang_id)
       |) WHERE rn <= quota ORDER BY doc_id""".stripMargin

  /** #37 per-language corpus report: doc counts, exact token-count
    * percentiles (Spark `percentile` and DuckDB `quantile_cont` share
    * the linear-interpolation definition), mean quality. The reporting
    * query every corpus build ends with; one hash aggregation after the
    * narrow text-feature maps. */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(TextAnalysis.langId(col("text")).as("lang_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("double").as("nt"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      .groupBy("lang_id")
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(nt, 0.5)"), 6).as("median_tokens"),
        round(expr("percentile(nt, 0.9)"), 6).as("p90_tokens"),
        round(avg("q"), 6).as("avg_quality"))
      .orderBy("lang_id")

  private val corpusStatsSql: String = {
    val (hits, best, caseExpr) = langSql
    s"""SELECT lang_id, count(*) AS n_docs,
       |  round(quantile_cont(nt, 0.5), 6) AS median_tokens,
       |  round(quantile_cont(nt, 0.9), 6) AS p90_tokens,
       |  round(avg(q), 6) AS avg_quality
       |FROM (
       |  SELECT $caseExpr AS lang_id, nt, q FROM (
       |    SELECT greatest($best) AS best, $best, nt, q FROM (
       |      SELECT text,
       |        $hits,
       |        len(regexp_extract_all(text, '\\S+'))::DOUBLE AS nt,
       |        (least(greatest(length(text),1) / 200.0, 1.0)
       |         + greatest(1.0 - 4.0 * len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
       |               / greatest(length(text),1), 0.0)
       |         + least(5.0 * len(regexp_extract_all(lower(text), '\\b(the|a|an|and|of|to|in|is|it|that|for)\\b'))
       |               / greatest(len(regexp_extract_all(text, '\\S+')),1), 1.0)
       |        ) / 3.0 AS q
       |      FROM documents)))
       |GROUP BY lang_id ORDER BY lang_id""".stripMargin
  }

  // BM25 mirror notes: constants are spelled as the same double
  // arithmetic Spark evaluates (1.2 + 1.0, 1.0 - 0.75) rather than
  // pre-folded literals, every operand is cast to DOUBLE so DuckDB never
  // routes through DECIMAL arithmetic, and ranking orders by the ROUNDED
  // score (term tiebreak) so near-ties are decided identically on both
  // engines. avg(dl) is exact on both: integer-valued partial sums stay
  // below 2^53.
  /** Shared BM25 per-(doc, term) scored-frame SQL (mirror of
    * `TextAnalysis.bm25TermScores`), reused by the top-terms and
    * search oracles. */
  private lazy val bm25ScoredSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lower(unnest(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term
      |), wdl AS (
      |  SELECT doc_id, term, tf, (sum(tf) OVER (PARTITION BY doc_id))::BIGINT AS dl
      |  FROM tf
      |), dft AS (
      |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
      |), consts AS (
      |  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
      |  FROM (SELECT DISTINCT doc_id, dl FROM wdl)
      |), scored AS (
      |  SELECT wdl.doc_id, wdl.term,
      |    round(
      |      ln(1.0::DOUBLE + (n_docs::DOUBLE - df::DOUBLE + 0.5::DOUBLE)
      |                       / (df::DOUBLE + 0.5::DOUBLE))
      |        * wdl.tf::DOUBLE * (1.2::DOUBLE + 1.0::DOUBLE)
      |        / (wdl.tf::DOUBLE + 1.2::DOUBLE *
      |           ((1.0::DOUBLE - 0.75::DOUBLE)
      |            + 0.75::DOUBLE * wdl.dl::DOUBLE / avgdl)), 6) AS score
      |  FROM wdl JOIN dft USING (term) CROSS JOIN consts
      |)""".stripMargin

  /** The BM25 and TF-IDF top-10 lists for the pinned 3-term query —
    * shared by the search_rrf fusion and search_rbo agreement oracles. */
  private lazy val searchListsSql: String = bm25ScoredSql + """
      |, bml AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk_bm
      |  FROM (
      |    SELECT doc_id, round(sum(score), 6) AS score
      |    FROM scored WHERE term IN ('vector', 'key', 'dup')
      |    GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10)
      |), n2 AS (SELECT count(*) AS n_docs FROM documents),
      |w2 AS (
      |  SELECT tf.doc_id, tf.term, tf.tf * ln(n_docs / df) AS w
      |  FROM tf JOIN dft USING (term), n2
      |),
      |norms2 AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w2 GROUP BY 1),
      |qw2 AS (
      |  SELECT term, ln(n_docs / df) AS qw FROM dft, n2
      |  WHERE term IN ('vector', 'key', 'dup') AND ln(n_docs / df) > 0
      |),
      |qn2 AS (SELECT sqrt(sum(qw * qw)) AS qnorm FROM qw2),
      |tfl AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk_tf
      |  FROM (
      |    SELECT w2.doc_id,
      |      round(sum(w2.w * qw2.qw) / (norms2.norm * qn2.qnorm), 6) AS score
      |    FROM w2 JOIN qw2 USING (term) JOIN norms2 USING (doc_id), qn2
      |    GROUP BY w2.doc_id, norms2.norm, qn2.qnorm
      |    ORDER BY score DESC, doc_id LIMIT 10)
      |)""".stripMargin

  private lazy val textBm25Sql: String =
    bm25ScoredSql + """
      |SELECT doc_id, term, score, rank FROM (
      |  SELECT doc_id, term, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      |  FROM scored
      |) WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin

  private lazy val bm25SearchSql: String =
    bm25ScoredSql + """
      |SELECT doc_id, round(sum(score), 6) AS score, count(*)::BIGINT AS n_terms_hit
      |FROM scored WHERE term IN ('vector', 'key', 'dup')
      |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(
    // Nano-rounded log terms at the MODEL, exact long document sums,
    // (score DESC, lang) argmax — token order can never flip a call.
    "nb_lang_classify" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, lower(text) AS t FROM documents
        |), train AS (SELECT * FROM docs WHERE doc_id % 2 = 0),
        |test AS (SELECT * FROM docs WHERE doc_id % 2 = 1),
        |traintoks AS (
        |  SELECT lang, tok FROM (
        |    SELECT lang, unnest(string_split_regex(t, '\s+')) AS tok FROM train) x
        |  WHERE length(tok) > 0
        |), vocab AS (SELECT count(DISTINCT tok)::BIGINT AS v FROM traintoks),
        |totals AS (SELECT lang, count(*)::BIGINT AS t_l FROM traintoks GROUP BY 1),
        |priors AS (SELECT lang, count(*)::BIGINT AS n_docs FROM train GROUP BY 1),
        |ntr AS (SELECT count(*)::BIGINT AS n_train FROM train),
        |weights AS (
        |  SELECT c.lang AS cand, c.tok,
        |    CAST(round(ln((c + 1)/CAST(t_l + v AS DOUBLE))*1e9, 0) AS BIGINT) AS w
        |  FROM (SELECT lang, tok, count(*)::BIGINT AS c
        |        FROM traintoks GROUP BY 1, 2) c
        |  JOIN totals ON c.lang = totals.lang CROSS JOIN vocab
        |), langinfo AS (
        |  SELECT totals.lang AS cand,
        |    CAST(round(ln(1/CAST(t_l + v AS DOUBLE))*1e9, 0) AS BIGINT) AS w_default,
        |    CAST(round(ln(CAST(n_docs AS DOUBLE)/n_train)*1e9, 0) AS BIGINT)
        |      AS prior_nano
        |  FROM totals JOIN priors ON totals.lang = priors.lang
        |  CROSS JOIN vocab CROSS JOIN ntr
        |), testtoks AS (
        |  SELECT doc_id, lang AS true_lang, tok FROM (
        |    SELECT doc_id, lang, unnest(string_split_regex(t, '\s+')) AS tok
        |    FROM test) x
        |  WHERE length(tok) > 0
        |), scored AS (
        |  SELECT doc_id, true_lang, cand, prior_nano + sum(wc) AS score
        |  FROM (
        |    SELECT tt.doc_id, tt.true_lang, li.cand, li.prior_nano,
        |      coalesce(w.w, li.w_default) AS wc
        |    FROM testtoks tt CROSS JOIN langinfo li
        |    LEFT JOIN weights w ON w.cand = li.cand AND w.tok = tt.tok) x
        |  GROUP BY 1, 2, 3, prior_nano
        |), pred AS (
        |  SELECT doc_id, true_lang, cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) AS rk
        |    FROM scored) x WHERE rk = 1
        |), acc AS (
        |  SELECT count(*)::BIGINT AS n_test,
        |    sum(CASE WHEN true_lang = cand THEN 1 ELSE 0 END)::BIGINT AS n_correct
        |  FROM pred
        |)
        |SELECT true_lang, cand AS pred_lang, count(*)::BIGINT AS n,
        |  round(CAST(n_correct AS DOUBLE)/n_test, 6) AS accuracy
        |FROM pred CROSS JOIN acc
        |GROUP BY 1, 2, n_correct, n_test ORDER BY 1, 2""".stripMargin,
    // Nano-rounded per-row decay terms (round-then-sum); top-20 by the
    // exact integer score.
    "item_decayed_pop" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
        |    epoch_us(o_orderdate) AS odus
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), ref AS (SELECT max(odus) AS refus FROM li),
        |t AS (
        |  SELECT l_partkey,
        |    CAST(round(exp(-((refus - odus) // 86400000000) * ln(2) / 30)
        |      * q * 1e9, 0) AS BIGINT) AS term
        |  FROM li CROSS JOIN ref
        |), g AS (
        |  SELECT l_partkey, count(*)::BIGINT AS n_lines,
        |    sum(term)::BIGINT AS score_nano
        |  FROM t GROUP BY 1
        |)
        |SELECT l_partkey, n_lines, round(score_nano/1e9, 6) AS decayed_popularity
        |FROM g ORDER BY score_nano DESC, l_partkey LIMIT 20""".stripMargin,
    // Calendar-bounded 28-day range join; stickiness is exact basis
    // points.
    "dau_mau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events
        |), days AS (SELECT DISTINCT d AS day_idx FROM ud),
        |mau AS (
        |  SELECT day_idx, count(DISTINCT user_id)::BIGINT AS mau
        |  FROM days JOIN ud ON d BETWEEN day_idx - 27 AND day_idx
        |  GROUP BY 1
        |), dau AS (
        |  SELECT d AS day_idx, count(*)::BIGINT AS dau FROM ud GROUP BY 1
        |)
        |SELECT day_idx, dau, mau, dau * 10000 // mau AS stickiness_bp
        |FROM dau JOIN mau USING (day_idx) ORDER BY day_idx""".stripMargin,
    // Exact 1e4-grid quantization; per-dim sums and the squared-norm
    // total are integers, the ratio one exact-rational double.
    "emb_anisotropy" ->
      """WITH x AS (
        |  SELECT t.i::BIGINT - 1 AS pos,
        |    round(embedding[t.i]::DOUBLE * 10000)::BIGINT AS q
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
        |), dims AS (
        |  SELECT pos, sum(q)::BIGINT AS s_d, sum(CAST(q AS HUGEINT) * q) AS ssq_d,
        |    count(*)::BIGINT AS n
        |  FROM x GROUP BY 1
        |), agg AS (
        |  SELECT max(n)::BIGINT AS n_vectors, count(*)::BIGINT AS dim,
        |    sum(CAST(s_d AS HUGEINT) * s_d) AS ssum, sum(ssq_d) AS ssq
        |  FROM dims
        |)
        |SELECT n_vectors, dim,
        |  round(sqrt(CAST(ssq AS DOUBLE)/n_vectors)/1e4, 6) AS rms_norm,
        |  round(CAST(ssum AS DOUBLE)/CAST(CAST(n_vectors AS HUGEINT)*ssq AS DOUBLE), 6)
        |    AS anisotropy
        |FROM agg""".stripMargin,
    // Gap sessions split on gap > 30min (Sessionize semantics); flags
    // are indicator maxima; the rate is exact basis points.
    "cart_abandonment" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events
        |), f AS (
        |  SELECT *, CASE WHEN tsu - lag(tsu) OVER w > 1800000000
        |    OR lag(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |), sx AS (
        |  SELECT *, sum(news) OVER (PARTITION BY user_id
        |    ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM f
        |), g AS (
        |  SELECT user_id, sess, min(tsu) AS start_us,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
        |  FROM sx GROUP BY 1, 2
        |), d AS (
        |  SELECT start_us // 86400000000 AS day_idx, count(*)::BIGINT AS n_sessions,
        |    sum(has_click)::BIGINT AS n_intent,
        |    sum(CASE WHEN has_click = 1 AND has_purchase = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_abandoned
        |  FROM g GROUP BY 1
        |)
        |SELECT day_idx, n_sessions, n_intent, n_abandoned,
        |  CASE WHEN n_intent > 0 THEN n_abandoned * 10000 // n_intent END AS abandon_bp
        |FROM d ORDER BY day_idx""".stripMargin,
    // Modal hour per (type, half) by the (n DESC, hour) total order.
    "peak_hour_shift" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us FROM events
        |), mid AS (
        |  SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM e
        |), grid AS (
        |  SELECT event_type, CASE WHEN ts_us <= mid THEN 0 ELSE 1 END AS half,
        |    (ts_us // 3600000000) % 24 AS hod, count(*)::BIGINT AS n
        |  FROM e CROSS JOIN mid GROUP BY 1, 2, 3
        |), top AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_type, half
        |      ORDER BY n DESC, hod) AS rk
        |    FROM grid) x WHERE rk = 1
        |)
        |SELECT a.event_type, a.hod AS peak_hour_h1, a.n AS n_h1,
        |  b.hod AS peak_hour_h2, b.n AS n_h2, b.hod - a.hod AS shift_hours
        |FROM (SELECT * FROM top WHERE half = 0) a
        |JOIN (SELECT * FROM top WHERE half = 1) b ON a.event_type = b.event_type
        |ORDER BY a.event_type""".stripMargin,
    // (user, day) activity set self-joined per user; denominators gate
    // on base days with an observable d+n.
    "retention_dayn" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events
        |), mx AS (SELECT max(d) AS maxd FROM ud),
        |matched AS (
        |  SELECT b.d - a.d AS offset_days, count(*)::BIGINT AS n_retained
        |  FROM ud a JOIN ud b ON a.user_id = b.user_id
        |    AND b.d - a.d BETWEEN 1 AND 7
        |  GROUP BY 1
        |), base AS (
        |  SELECT n.offset_days, count(*)::BIGINT AS n_base
        |  FROM ud CROSS JOIN mx
        |  CROSS JOIN (SELECT unnest(range(1, 8)) AS offset_days) n
        |  WHERE d + n.offset_days <= maxd
        |  GROUP BY 1
        |)
        |SELECT offset_days, n_base, coalesce(n_retained, 0) AS n_retained,
        |  round(CAST(coalesce(n_retained, 0) AS DOUBLE)/n_base, 6) AS retention
        |FROM base LEFT JOIN matched USING (offset_days)
        |ORDER BY offset_days""".stripMargin,
    // Exact cents; the index is one exact rational in double.
    "revenue_seasonal_index" ->
      """WITH ym AS (
        |  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
        |    sum(round(o_totalprice * 100, 0)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2
        |), tot AS (
        |  SELECT count(*)::BIGINT AS n_cells, sum(cents)::BIGINT AS s FROM ym
        |), per AS (
        |  SELECT mon::BIGINT AS month, count(*)::BIGINT AS n_years,
        |    sum(cents)::BIGINT AS mc
        |  FROM ym GROUP BY 1
        |)
        |SELECT month, n_years, round(mc / 100.0, 2) AS revenue,
        |  round(CAST(CAST(mc AS HUGEINT) * n_cells AS DOUBLE)
        |    / CAST(CAST(n_years AS HUGEINT) * s AS DOUBLE), 6) AS seasonal_index
        |FROM per CROSS JOIN tot ORDER BY month""".stripMargin,
    // Exact integer quantities and basis points; top supplier by
    // (q DESC, suppkey) total order.
    "single_source_risk" ->
      """WITH ps AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |    sum(CAST(l_quantity AS BIGINT))::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2
        |), tot AS (
        |  SELECT pk, sum(q)::BIGINT AS total_qty, count(*)::BIGINT AS n_suppliers
        |  FROM ps GROUP BY 1 HAVING count(*) >= 2
        |), top AS (
        |  SELECT pk, sk AS top_suppkey, q AS top_qty FROM (
        |    SELECT *, row_number() OVER (PARTITION BY pk ORDER BY q DESC, sk) AS rk
        |    FROM ps) x WHERE rk = 1
        |)
        |SELECT pk AS p_partkey, top_suppkey, n_suppliers, top_qty, total_qty,
        |  top_qty * 10000 // total_qty AS share_bp
        |FROM top JOIN tot USING (pk)
        |ORDER BY share_bp DESC, pk LIMIT 20""".stripMargin,
    // Each half's monetary quartile is the exact ntile over
    // (cents DESC, custkey); absent halves code as quartile 0.
    "rfm_migration" ->
      """WITH o AS (
        |  SELECT o_custkey, round(o_totalprice * 100, 0)::BIGINT AS cents,
        |    epoch_us(o_orderdate) AS odus
        |  FROM orders
        |), mid AS (
        |  SELECT (min(odus) + max(odus)) // 2 AS mid FROM o
        |), sided AS (
        |  SELECT o_custkey, cents,
        |    CASE WHEN odus <= mid THEN 0 ELSE 1 END AS side
        |  FROM o CROSS JOIN mid
        |), qa AS (
        |  SELECT o_custkey, ntile(4) OVER (ORDER BY cents DESC, o_custkey)::BIGINT
        |    AS q_from
        |  FROM (SELECT o_custkey, sum(cents)::BIGINT AS cents
        |        FROM sided WHERE side = 0 GROUP BY 1)
        |), qb AS (
        |  SELECT o_custkey, ntile(4) OVER (ORDER BY cents DESC, o_custkey)::BIGINT
        |    AS q_to
        |  FROM (SELECT o_custkey, sum(cents)::BIGINT AS cents
        |        FROM sided WHERE side = 1 GROUP BY 1)
        |)
        |SELECT coalesce(q_from, 0) AS q_from, coalesce(q_to, 0) AS q_to,
        |  count(*)::BIGINT AS n_customers
        |FROM qa FULL OUTER JOIN qb USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Nano-rounded log units per row → exact HUGEINT regression
    // moments; slope and intercept repeat the engine's double trees.
    "price_elasticity" ->
      """WITH li AS (
        |  SELECT CAST(round(ln(1 - l_discount)*1e9, 0) AS BIGINT) AS x,
        |    CAST(round(ln(l_quantity)*1e9, 0) AS BIGINT) AS y
        |  FROM lineitem
        |), a AS (
        |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM li
        |)
        |SELECT n,
        |  round(CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE), 6)
        |    AS elasticity,
        |  round((sy - CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE) * sx)
        |    / n / 1e9, 6) AS intercept_ln_q
        |FROM a""".stripMargin,
    // Matched basket; cross terms round to cents per part before the
    // basket sums, own-year values are exact cent sums.
    "price_index" ->
      """WITH py AS (
        |  SELECT l_partkey AS pk,
        |    sum(CASE WHEN year(o_orderdate) = 1995
        |      THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) END)::BIGINT AS sc0,
        |    sum(CASE WHEN year(o_orderdate) = 1995
        |      THEN CAST(l_quantity AS BIGINT) END)::BIGINT AS sq0,
        |    sum(CASE WHEN year(o_orderdate) = 1996
        |      THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) END)::BIGINT AS sc1,
        |    sum(CASE WHEN year(o_orderdate) = 1996
        |      THEN CAST(l_quantity AS BIGINT) END)::BIGINT AS sq1
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY 1
        |), j AS (
        |  SELECT sc0, sc1,
        |    CAST(round(CAST(sc1 AS DOUBLE)*sq0/sq1, 0) AS BIGINT) AS p1q0,
        |    CAST(round(CAST(sc0 AS DOUBLE)*sq1/sq0, 0) AS BIGINT) AS p0q1
        |  FROM py WHERE sq0 IS NOT NULL AND sq1 IS NOT NULL
        |), a AS (
        |  SELECT count(*)::BIGINT AS n_parts, sum(sc0)::BIGINT AS v00,
        |    sum(sc1)::BIGINT AS v11, sum(p1q0)::BIGINT AS v10,
        |    sum(p0q1)::BIGINT AS v01
        |  FROM j
        |)
        |SELECT n_parts, round(CAST(v10 AS DOUBLE)/v00, 6) AS laspeyres,
        |  round(CAST(v11 AS DOUBLE)/v01, 6) AS paasche,
        |  round(sqrt(CAST(v10 AS DOUBLE)/v00 * (CAST(v11 AS DOUBLE)/v01)), 6)
        |    AS fisher
        |FROM a""".stripMargin,
    // Identical nano-nat round-then-sum arithmetic per pair; the two
    // pair blocks differ only in their cell source.
    "mi_matrix" -> {
      def block(src: String, pair: String): String =
        s"""SELECT '$pair' AS pair, (SELECT n FROM tot$pair) AS n,
           |  round(mi_nn / 1000000000.0, 6) AS mi,
           |  round(hx_nn / 1000000000.0, 6) AS h_x,
           |  round(hy_nn / 1000000000.0, 6) AS h_y,
           |  CASE WHEN hx_nn = 0 OR hy_nn = 0 THEN NULL
           |    ELSE round(mi_nn / sqrt(hx_nn::DOUBLE * hy_nn::DOUBLE), 6)
           |  END AS nmi
           |FROM mi$pair, hx$pair, hy$pair""".stripMargin
      def ctes(src: String, pair: String): String =
        s"""cells$pair AS (
           |  SELECT xv, yv, count(*)::BIGINT AS nxy FROM ($src) GROUP BY 1, 2
           |), mx$pair AS (SELECT xv, sum(nxy)::BIGINT AS nx FROM cells$pair GROUP BY 1),
           |my$pair AS (SELECT yv, sum(nxy)::BIGINT AS ny FROM cells$pair GROUP BY 1),
           |tot$pair AS (SELECT sum(nxy)::BIGINT AS n FROM cells$pair),
           |mi$pair AS (
           |  SELECT sum(CAST(round((nxy::DOUBLE / n)
           |    * ln((nxy * n)::DOUBLE / (nx * ny)::DOUBLE)
           |    * 1000000000, 0) AS BIGINT))::BIGINT AS mi_nn
           |  FROM cells$pair JOIN mx$pair USING (xv) JOIN my$pair USING (yv),
           |    tot$pair
           |), hx$pair AS (
           |  SELECT sum(CAST(round(-(nx::DOUBLE / n) * ln(nx::DOUBLE / n)
           |    * 1000000000, 0) AS BIGINT))::BIGINT AS hx_nn
           |  FROM mx$pair, tot$pair
           |), hy$pair AS (
           |  SELECT sum(CAST(round(-(ny::DOUBLE / n) * ln(ny::DOUBLE / n)
           |    * 1000000000, 0) AS BIGINT))::BIGINT AS hy_nn
           |  FROM my$pair, tot$pair
           |)""".stripMargin
      val src1 = "SELECT lang AS xv, source AS yv FROM documents"
      val src2 = "SELECT event_type AS xv, " +
        "((epoch_us(ts) // 3600000000) % 24)::VARCHAR AS yv FROM events"
      s"""WITH ${ctes(src1, "lang_x_source")},
         |${ctes(src2, "type_x_hod")}
         |${block(src1, "lang_x_source")}
         |UNION ALL
         |${block(src2, "type_x_hod")}
         |ORDER BY pair""".stripMargin
    },
    // Exact HUGEINT moments -> integer sqrt weights -> floor-share
    // quotas; member election mirrors the engine's arithmetic hash.
    "sample_neyman" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
        |  FROM customer
        |), m AS (
        |  SELECT c_nationkey, count(*)::BIGINT AS n,
        |    sum(cents) AS s, sum(cents * cents) AS ssq
        |  FROM c GROUP BY 1
        |), x AS (
        |  SELECT c_nationkey,
        |    CAST(round(sqrt((n * ssq - s * s)::DOUBLE), 0) AS BIGINT) AS xv
        |  FROM m
        |), q AS (
        |  SELECT c_nationkey,
        |    CAST((500 * xv) // (SELECT sum(xv) FROM x) AS BIGINT) AS quota
        |  FROM x
        |)
        |SELECT c_custkey, c_nationkey, quota FROM (
        |  SELECT c.c_custkey, c.c_nationkey, q.quota,
        |    row_number() OVER (PARTITION BY c.c_nationkey
        |      ORDER BY ((c.c_custkey % 1000000) * 2654435761 + 7) % 1000000,
        |        c.c_custkey) AS rn
        |  FROM c JOIN q USING (c_nationkey)
        |) WHERE rn <= quota
        |ORDER BY c_nationkey, c_custkey""".stripMargin,
    // Per-middle-vertex integer micro-contributions (round-then-sum)
    // over two-hop paths, hub-capped at deg <= 100, minus observed
    // edges; ranking is over exact integers.
    // Hub-capped intersection count; the full-degree union sits in one
    // exact ppm-rounded ratio, so the ranking is float-free.
    "link_jaccard" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), e AS (
        |  SELECT x.item AS ia, y.item AS ib
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT ia AS u, ib AS v FROM e
        |  UNION ALL SELECT ib AS u, ia AS v FROM e
        |), deg AS (
        |  SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY 1
        |), mid AS (
        |  SELECT u AS w FROM deg WHERE deg BETWEEN 2 AND 100
        |), paths AS (
        |  SELECT s1.u AS a, s2.v AS bb
        |  FROM sym s1 JOIN mid m ON s1.v = m.w
        |  JOIN sym s2 ON s2.u = m.w
        |  WHERE s1.u < s2.v
        |), common AS (
        |  SELECT a, bb, count(*)::BIGINT AS n_common FROM paths GROUP BY 1, 2
        |), nonedge AS (
        |  SELECT c.* FROM common c LEFT JOIN e ON e.ia = c.a AND e.ib = c.bb
        |  WHERE e.ia IS NULL
        |)
        |SELECT a AS item_a, bb AS item_b, n_common, da.deg AS deg_a,
        |  db.deg AS deg_b,
        |  CAST(round(CAST(n_common AS DOUBLE)*1000000/(da.deg + db.deg - n_common), 0) AS BIGINT)
        |    AS jaccard_ppm
        |FROM nonedge JOIN deg da ON da.u = a JOIN deg db ON db.u = bb
        |ORDER BY jaccard_ppm DESC, a, bb LIMIT 20""".stripMargin,
    "link_adamic_adar" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), e AS (
        |  SELECT x.item AS ia, y.item AS ib
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT ia AS u, ib AS v FROM e
        |  UNION ALL SELECT ib AS u, ia AS v FROM e
        |), mid AS (
        |  SELECT v AS w, CAST(round(1000000.0 / ln(count(*)), 0) AS BIGINT)
        |    AS w_contrib
        |  FROM sym GROUP BY v HAVING count(*) BETWEEN 2 AND 100
        |), paths AS (
        |  SELECT s1.u AS a, s2.v AS bb, m.w_contrib
        |  FROM sym s1 JOIN mid m ON s1.v = m.w
        |  JOIN sym s2 ON s2.u = m.w
        |  WHERE s1.u < s2.v
        |), scored AS (
        |  SELECT a, bb, sum(w_contrib)::BIGINT AS aa_score_us,
        |    count(*)::BIGINT AS n_common
        |  FROM paths GROUP BY 1, 2
        |)
        |SELECT a AS item_a, bb AS item_b, n_common, aa_score_us
        |FROM scored LEFT JOIN e ON e.ia = scored.a AND e.ib = scored.bb
        |WHERE e.ia IS NULL
        |ORDER BY aa_score_us DESC, a, bb LIMIT 20""".stripMargin,
    // Three unrolled synchronous modal-vote rounds; argmax per vertex
    // by (count DESC, label ASC) mirrors the engine's bounded-heap
    // top-1 tie discipline.
    // Same 3-round label CTE chain as graph_communities; Q is one
    // exact HUGEINT ratio.
    "graph_modularity" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), e AS (
        |  SELECT x.item AS ia, y.item AS ib
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT ia AS u, ib AS v FROM e
        |  UNION ALL SELECT ib AS u, ia AS v FROM e
        |), l0 AS (
        |  SELECT DISTINCT u AS lv, u AS lab FROM sym
        |), l1 AS (
        |  SELECT cv AS lv, lab FROM (
        |    SELECT s.u AS cv, l.lab, row_number() OVER (
        |      PARTITION BY s.u ORDER BY count(*) DESC, l.lab) AS rk
        |    FROM sym s JOIN l0 l ON s.v = l.lv GROUP BY s.u, l.lab
        |  ) WHERE rk = 1
        |), l2 AS (
        |  SELECT cv AS lv, lab FROM (
        |    SELECT s.u AS cv, l.lab, row_number() OVER (
        |      PARTITION BY s.u ORDER BY count(*) DESC, l.lab) AS rk
        |    FROM sym s JOIN l1 l ON s.v = l.lv GROUP BY s.u, l.lab
        |  ) WHERE rk = 1
        |), l3 AS (
        |  SELECT cv AS lv, lab FROM (
        |    SELECT s.u AS cv, l.lab, row_number() OVER (
        |      PARTITION BY s.u ORDER BY count(*) DESC, l.lab) AS rk
        |    FROM sym s JOIN l2 l ON s.v = l.lv GROUP BY s.u, l.lab
        |  ) WHERE rk = 1
        |), m AS (SELECT count(*)::BIGINT AS m FROM e),
        |ein AS (
        |  SELECT sum(CASE WHEN a.lab = c.lab THEN 1 ELSE 0 END)::BIGINT AS e_in
        |  FROM e JOIN l3 a ON e.ia = a.lv JOIN l3 c ON e.ib = c.lv
        |), deg AS (
        |  SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY 1
        |), dc AS (
        |  SELECT lab, sum(deg)::BIGINT AS d_c
        |  FROM deg JOIN l3 ON deg.u = l3.lv GROUP BY 1
        |), dsq AS (
        |  SELECT count(*)::BIGINT AS n_communities,
        |    sum(CAST(d_c AS HUGEINT) * d_c) AS sum_dsq
        |  FROM dc
        |)
        |SELECT n_communities, m AS m_edges, e_in,
        |  round(CAST(4*CAST(m AS HUGEINT)*e_in - sum_dsq AS DOUBLE)
        |    / CAST(4*CAST(m AS HUGEINT)*m AS DOUBLE), 6) AS modularity
        |FROM m CROSS JOIN ein CROSS JOIN dsq""".stripMargin,
    "graph_communities" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), e AS (
        |  SELECT x.item AS ia, y.item AS ib
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT ia AS u, ib AS v FROM e
        |  UNION ALL SELECT ib AS u, ia AS v FROM e
        |), l0 AS (
        |  SELECT DISTINCT u AS lv, u AS lab FROM sym
        |), l1 AS (
        |  SELECT cv AS lv, lab FROM (
        |    SELECT s.u AS cv, l.lab, row_number() OVER (
        |      PARTITION BY s.u ORDER BY count(*) DESC, l.lab) AS rk
        |    FROM sym s JOIN l0 l ON s.v = l.lv GROUP BY s.u, l.lab
        |  ) WHERE rk = 1
        |), l2 AS (
        |  SELECT cv AS lv, lab FROM (
        |    SELECT s.u AS cv, l.lab, row_number() OVER (
        |      PARTITION BY s.u ORDER BY count(*) DESC, l.lab) AS rk
        |    FROM sym s JOIN l1 l ON s.v = l.lv GROUP BY s.u, l.lab
        |  ) WHERE rk = 1
        |), l3 AS (
        |  SELECT cv AS lv, lab FROM (
        |    SELECT s.u AS cv, l.lab, row_number() OVER (
        |      PARTITION BY s.u ORDER BY count(*) DESC, l.lab) AS rk
        |    FROM sym s JOIN l2 l ON s.v = l.lv GROUP BY s.u, l.lab
        |  ) WHERE rk = 1
        |), sz AS (
        |  SELECT lab, count(*)::BIGINT AS community_size FROM l3 GROUP BY 1
        |)
        |SELECT l3.lv AS item, l3.lab AS community, sz.community_size
        |FROM l3 JOIN sz USING (lab) ORDER BY item""".stripMargin,
    // Ablation figures are total-minus-group arithmetic on exact
    // integers; quality enters in micro-units after its established
    // 6-dp contract round (same formula as text_quality).
    "source_ablation" ->
      """WITH d AS (
        |  SELECT source,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tok,
        |    CAST(round(round((
        |        least(greatest(length(text),1) / 200.0, 1.0)
        |      + greatest(1.0 - 4.0 * len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
        |            / greatest(length(text),1), 0.0)
        |      + least(5.0 * len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that|for)\b'))
        |            / greatest(len(regexp_extract_all(text, '\S+')),1), 1.0)
        |      ) / 3.0, 6) * 1000000, 0) AS BIGINT) AS q_us
        |  FROM documents
        |), per AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    sum(n_tok)::BIGINT AS n_tokens, sum(q_us)::BIGINT AS sum_q
        |  FROM d GROUP BY 1
        |), tot AS (
        |  SELECT sum(n_docs)::BIGINT AS t_docs,
        |    sum(n_tokens)::BIGINT AS t_tokens, sum(sum_q)::BIGINT AS t_q
        |  FROM per
        |)
        |SELECT source, n_docs, n_tokens,
        |  n_tokens * 10000 // t_tokens AS token_share_bp,
        |  t_docs - n_docs AS docs_wo,
        |  t_tokens - n_tokens AS tokens_wo,
        |  round((t_tokens - n_tokens) / (t_docs - n_docs), 6) AS mean_tokens_wo,
        |  round((t_q - sum_q) / (t_docs - n_docs) / 1000000.0, 6)
        |    AS mean_quality_wo
        |FROM per, tot ORDER BY source""".stripMargin,
    "text_bm25" -> textBm25Sql,
    "bm25_search" -> bm25SearchSql,
    // Temperature mixture: integer weights (floor of a correctly-rounded
    // IEEE sqrt) and integer div quotas — no double accumulation, so the
    // mirror is exact by construction.
    "sample_temperature" ->
      s"""WITH ${quotaSplitSql("customer", "c_nationkey", 300L)}
        |SELECT c_custkey, c_nationkey FROM (
        |  SELECT c.c_custkey, c.c_nationkey, q.quota,
        |    row_number() OVER (PARTITION BY c.c_nationkey
        |      ORDER BY ((c.c_custkey % 1000000) * 2654435761 + 11) % 1000000,
        |        c.c_custkey) AS rn
        |  FROM customer c JOIN quotas q USING (c_nationkey)
        |) WHERE rn <= quota ORDER BY c_nationkey, c_custkey""".stripMargin,
    "sample_hash" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE ((event_id % 1000000) * 2654435761 + 42) % 1000000 < 250000
        |ORDER BY event_id""".stripMargin,
    "sample_stratified" ->
      """SELECT c_custkey, c_nationkey FROM (
        |  SELECT c_custkey, c_nationkey,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY ((c_custkey % 1000000) * 2654435761 + 7) % 1000000, c_custkey) AS rn
        |  FROM customer
        |) WHERE rn <= 10 ORDER BY c_nationkey, c_custkey""".stripMargin,
    "corpus_stats" -> corpusStatsSql,
    // The oracle's TRUE literals are the contract: the Spark side must
    // arrive with every sketch-error assertion already true, or the hash
    // (and before it, the value compare) breaks.
    "sketch_profile" ->
      """SELECT event_type, count(*) AS n_rows,
        |  true AS distinct_ok, true AS p50_ok, true AS p90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "corpus_mix" -> corpusMixSql,
    "text_repetition" ->
      """SELECT doc_id, round(CASE WHEN len(lines) = 0 THEN 0.0
        |  ELSE 1.0 - len(list_distinct(lines)) / len(lines)::DOUBLE END, 6) AS rep_ratio
        |FROM (
        |  SELECT doc_id,
        |    list_filter(string_split(CASE WHEN doc_id % 2 = 0
        |      THEN substring(text, 1, 40) || chr(10) || substring(text, 1, 40)
        |           || chr(10) || substring(text, 41)
        |      ELSE text END, chr(10)), l -> length(trim(l)) > 0) AS lines
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || doc_id || '@example.com at 192.168.0.1 or call 0012345678.',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9][0-9 ()+-]{6,}[0-9]\b', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "corpus_clean" ->
      """WITH ev AS (
        |  SELECT substring(text, 10, 120) AS text FROM documents WHERE doc_id % 25 = 0
        |), evtoks AS (
        |  SELECT regexp_extract_all(lower(text), '\S+') AS t FROM ev
        |), evsh AS (
        |  SELECT DISTINCT shingle FROM (
        |    SELECT array_to_string(t[j:j+4], ' ') AS shingle
        |    FROM (SELECT t, unnest(range(1, len(t) - 3)) AS j FROM evtoks WHERE len(t) >= 5))
        |), toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, array_to_string(t[j:j+4], ' ') AS shingle
        |    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS j FROM toks
        |          WHERE len(t) >= 5))
        |), bad AS (
        |  SELECT DISTINCT sh.doc_id FROM sh JOIN evsh USING (shingle)
        |), scored AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
        |    round((
        |      least(greatest(length(text),1) / 200.0, 1.0)
        |    + greatest(1.0 - 4.0 * len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
        |          / greatest(length(text),1), 0.0)
        |    + least(5.0 * len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that|for)\b'))
        |          / greatest(len(regexp_extract_all(text, '\S+')),1), 1.0)
        |    ) / 3.0, 6) AS quality_score
        |  FROM documents
        |)
        |SELECT doc_id, n_ws_tokens, quality_score FROM scored
        |WHERE n_ws_tokens >= 30 AND quality_score >= 0.65
        |  AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    "decontam_scan" -> decontamTruthSql,
    // Bloom prefilter has no false negatives and the exact semi-join
    // removes false positives, so the output is decontam_scan's.
    "decontam_bloom" -> decontamTruthSql,
    // CDC: same windowed-md5 selection machinery as the span oracles;
    // cuts at p >= 2, sentinel end-cut, per-doc segment rebuild.
    "chunk_cdc" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) > 0
        |), cuts AS (
        |  SELECT doc_id, g.i AS p
        |  FROM base, LATERAL (
        |    SELECT unnest(generate_series(2, len(text) - 39)) AS i) g
        |  WHERE len(text) - 39 >= 2
        |    AND substring(md5(substring(text, g.i, 40)), 1, 1) = '0'
        |), pts AS (
        |  SELECT doc_id, p FROM cuts
        |  UNION ALL
        |  SELECT doc_id, len(text) + 1 FROM base
        |), segs AS (
        |  SELECT doc_id, p,
        |    coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), 1) AS s
        |  FROM pts
        |), fsegs AS (SELECT * FROM segs WHERE p > s)
        |SELECT f.doc_id,
        |  row_number() OVER (PARTITION BY f.doc_id ORDER BY f.s) - 1 AS chunk_idx,
        |  f.s AS chunk_start, (f.p - f.s)::BIGINT AS chunk_len,
        |  md5(substring(b.text, f.s, f.p - f.s)) AS chunk_md5
        |FROM fsegs f JOIN base b USING (doc_id)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "pack_budget" ->
      """SELECT doc_id, bucket, CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS bin,
        |  n_tokens
        |FROM (
        |  SELECT doc_id, bucket, n_tokens,
        |    (sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
        |  FROM (
        |    SELECT doc_id, ((doc_id % 1000000) * 2654435761 + 3) % 8 AS bucket,
        |      len(regexp_extract_all(text, '\S+')) AS n_tokens
        |    FROM documents)
        |) ORDER BY doc_id""".stripMargin,
    "chrono_split" ->
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT event_id, user_id, event_type,
        |    row_number() OVER (ORDER BY epoch_us(ts), event_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM events
        |) WHERE rn > floor(0.8 * n) ORDER BY event_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  length(text) AS len_chars,
        |  len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, round((
        |    least(greatest(length(text),1) / 200.0, 1.0)
        |  + greatest(1.0 - 4.0 * len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
        |        / greatest(length(text),1), 0.0)
        |  + least(5.0 * len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that|for)\b'))
        |        / greatest(len(regexp_extract_all(text, '\S+')),1), 1.0)
        |  ) / 3.0, 6) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_lang_id" -> langCase,
    "langid_confusion" -> s"""WITH pred AS (
${langRelSql}
), cells AS (
  SELECT d.lang AS lang_true, p.lang_id AS lang_pred, count(*) AS n
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY 1, 2
)
SELECT lang_true, lang_pred, n,
  CASE WHEN lang_true = lang_pred
    THEN (n * 10000 // sum(n) OVER (PARTITION BY lang_true))::BIGINT
    ELSE NULL END AS recall_bp
FROM cells ORDER BY lang_true, lang_pred""",
    // All-integer contingency arithmetic; kappa divides once.
    "langid_kappa" -> s"""WITH pred AS (
${langRelSql}
), cells AS (
  SELECT d.lang AS lang_true, p.lang_id AS lang_pred, count(*)::BIGINT AS n
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY 1, 2
), tot AS (SELECT sum(n)::BIGINT AS nt FROM cells),
po AS (
  SELECT coalesce(sum(n), 0)::BIGINT AS po_num FROM cells
  WHERE lang_true = lang_pred
), r AS (SELECT lang_true AS cls, sum(n)::BIGINT AS rr FROM cells GROUP BY 1),
c AS (SELECT lang_pred AS cls, sum(n)::BIGINT AS cc FROM cells GROUP BY 1),
pe AS (SELECT coalesce(sum(rr * cc), 0)::BIGINT AS pe_num FROM r JOIN c USING (cls))
SELECT nt AS n_docs, round(po_num / nt, 6) AS po,
  round(pe_num / (nt * nt), 6) AS pe,
  round((po_num * nt - pe_num) / (nt * nt - pe_num), 6) AS kappa
FROM tot CROSS JOIN po CROSS JOIN pe""",
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_md5,
        |  min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |GROUP BY content_md5 ORDER BY doc_id""".stripMargin,
    "chrono_split_user" ->
      """WITH r AS (
        |  SELECT event_id, user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events
        |)
        |SELECT event_id, user_id, event_type FROM r
        |WHERE rn * 1000000 > 800000 * n AND rn * 1000000 <= 1000000 * n
        |ORDER BY event_id""".stripMargin,
    "events_histogram" ->
      """WITH r AS (
        |  SELECT event_type, min(value) AS lo, max(value) AS hi
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type,
        |  CASE WHEN hi = lo THEN 0
        |       ELSE least(floor((value - lo) * 10 / (hi - lo)), 9) END::INT AS bin,
        |  count(*) AS n
        |FROM events e JOIN r USING (event_type)
        |GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,
    "heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS item
        |  FROM documents
        |), t AS (SELECT count(*) AS n FROM toks)
        |SELECT item, count(*)::BIGINT AS freq
        |FROM toks, t GROUP BY item, t.n
        |HAVING count(*) >= ceil(0.02 * t.n)
        |ORDER BY item""".stripMargin,
    "cv_folds" ->
      """SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 5 AS fold,
        |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY fold""".stripMargin,
    "events_regression" ->
      """SELECT event_type, count(*) AS n,
        |  round(regr_slope(value, tod_h), 6) AS slope,
        |  round(regr_intercept(value, tod_h), 6) AS intercept,
        |  round(regr_r2(value, tod_h), 6) AS r2
        |FROM (SELECT event_type, value,
        |        (epoch_us(ts) % 86400000000) / 3600000000.0 AS tod_h
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "corpus_chi2" ->
      """WITH o AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
        |), r AS (SELECT lang, count(*) AS rt FROM documents GROUP BY 1),
        |c AS (SELECT source, count(*) AS ct FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM documents),
        |x AS (
        |  SELECT o.o, r.rt * c.ct / t.n AS e, o.lang, o.source
        |  FROM o JOIN r USING (lang) JOIN c USING (source), t
        |)
        |SELECT round(sum(pow(o - e, 2) / e), 6) AS chi2,
        |  ((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1))::BIGINT AS dof
        |FROM x""".stripMargin,
    "events_spearman" ->
      """WITH b AS (
        |  SELECT event_type, value,
        |    (epoch_us(ts) % 86400000000) / 3600000000.0 AS tod_h
        |  FROM events
        |), r AS (
        |  SELECT event_type,
        |    (rank() OVER (PARTITION BY event_type ORDER BY value))::DOUBLE AS rv,
        |    (rank() OVER (PARTITION BY event_type ORDER BY tod_h))::DOUBLE AS rt
        |  FROM b
        |)
        |SELECT event_type, count(*) AS n, round(corr(rv, rt), 6) AS spearman
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "interval_coalesce" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + round(value * 100, 0)::BIGINT * 6000000 AS e_us
        |  FROM events
        |), m AS (
        |  SELECT *, max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv
        |), f AS (
        |  SELECT *, CASE WHEN pmax IS NULL OR s_us > pmax THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |    ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM f
        |)
        |SELECT user_id, min(s_us) AS island_start, max(e_us) AS island_end,
        |  count(*) AS n_merged
        |FROM g GROUP BY user_id, isl
        |ORDER BY user_id, island_start""".stripMargin,
    "scd2_history" ->
      """WITH v AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS valid_from_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS valid_to_us
        |  FROM events
        |)
        |SELECT *, valid_to_us IS NULL AS is_current FROM v
        |ORDER BY user_id, event_type, valid_from_us, event_id""".stripMargin,
    // Membership/content rules mirror the derived generations exactly:
    // added = absent old (≡3 mod 11), removed = absent new (≡7 mod 11),
    // changed = n_chars bumped (≡0 mod 5) and present on both sides.
    "snapshot_diff" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 3 THEN 'added'
        |       WHEN doc_id % 11 = 7 THEN 'removed'
        |       ELSE 'changed' END AS status
        |FROM documents
        |WHERE doc_id % 11 = 3 OR doc_id % 11 = 7 OR doc_id % 5 = 0
        |ORDER BY doc_id""".stripMargin,
    // Same pair CTE as item_cooc, then: top-3 lists (lift desc, n_ab
    // desc, rec asc), popularity percent_rank over the item marginals,
    // and the one-row coverage/bias audit.
    "rec_coverage" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), n AS (SELECT count(DISTINCT basket) AS nb FROM b),
        |m AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
        |p AS (
        |  SELECT x.item AS item_a, y.item AS item_b, count(*) AS n_ab,
        |    round(count(*) * (SELECT nb FROM n)::DOUBLE
        |      / (max(ma.n_item) * max(mb.n_item)), 6) AS lift
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  JOIN m ma ON ma.item = x.item
        |  JOIN m mb ON mb.item = y.item
        |  GROUP BY x.item, y.item
        |  HAVING count(*) >= 2
        |), sym AS (
        |  SELECT item_a AS item, item_b AS rec, lift, n_ab FROM p
        |  UNION ALL
        |  SELECT item_b AS item, item_a AS rec, lift, n_ab FROM p
        |), top3 AS (
        |  SELECT item, rec FROM (
        |    SELECT sym.*, row_number() OVER (PARTITION BY item
        |      ORDER BY lift DESC, n_ab DESC, rec) AS rn FROM sym)
        |  WHERE rn <= 3
        |), pr AS (
        |  SELECT item, percent_rank() OVER (ORDER BY n_item) AS pop_pr FROM m
        |)
        |SELECT (SELECT count(*) FROM part) AS n_catalog,
        |  (SELECT count(DISTINCT item) FROM b) AS n_sold,
        |  count(DISTINCT top3.item) AS n_rec_items,
        |  count(DISTINCT top3.rec) AS n_rec_distinct,
        |  round(count(DISTINCT top3.rec)
        |    / (SELECT count(*) FROM part)::DOUBLE, 6) AS catalog_coverage,
        |  round(avg(pr.pop_pr), 6) AS mean_rec_pop_pr
        |FROM top3 JOIN pr ON pr.item = top3.rec""".stripMargin,
    // Directed-both-ways edge list of the same pair CTE; assortativity
    // is the Pearson correlation of endpoint degrees.
    "graph_assortativity" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), m AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
        |p AS (
        |  SELECT x.item AS a, y.item AS b
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY x.item, y.item
        |  HAVING count(*) >= 2
        |), sym AS (
        |  SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p
        |), deg AS (SELECT a, count(*) AS deg FROM sym GROUP BY 1)
        |SELECT count(DISTINCT sym.a) AS n_nodes,
        |  (count(*) / 2)::BIGINT AS n_edges,
        |  CASE WHEN stddev_pop(da.deg) = 0 OR stddev_pop(db.deg) = 0 THEN NULL
        |       ELSE round(corr(da.deg, db.deg), 6) END AS assortativity
        |FROM sym JOIN deg da ON da.a = sym.a JOIN deg db ON db.a = sym.b""".stripMargin,
    "item_cooc" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), n AS (SELECT count(DISTINCT basket) AS nb FROM b),
        |m AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1)
        |SELECT x.item AS item_a, y.item AS item_b, count(*) AS n_ab,
        |  round(count(*) * (SELECT nb FROM n)::DOUBLE
        |    / (max(ma.n_item) * max(mb.n_item)), 6) AS lift
        |FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |JOIN m ma ON ma.item = x.item
        |JOIN m mb ON mb.item = y.item
        |GROUP BY x.item, y.item
        |HAVING count(*) >= 2
        |ORDER BY item_a, item_b""".stripMargin,
    "events_gapfill" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*) AS n_events, round(avg(value), 6) AS avg_value
        |  FROM events GROUP BY 1, 2
        |), b AS (SELECT min(hour_us) AS mn, max(hour_us) AS mx FROM h),
        |spine AS (
        |  SELECT t.event_type, g.hour_us
        |  FROM (SELECT DISTINCT event_type FROM h) t,
        |    (SELECT unnest(generate_series((SELECT mn FROM b), (SELECT mx FROM b),
        |       3600000000)) AS hour_us) g
        |)
        |SELECT s.event_type, s.hour_us,
        |  coalesce(h.n_events, 0)::BIGINT AS n_events,
        |  last_value(h.avg_value IGNORE NULLS) OVER (
        |    PARTITION BY s.event_type ORDER BY s.hour_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
        |FROM spine s LEFT JOIN h
        |  ON h.event_type = s.event_type AND h.hour_us = s.hour_us
        |ORDER BY 1, 2""".stripMargin,
    "pareto_parts" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    sum(round(l_extendedprice * (1.0 - l_discount) * 100, 0)::BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1
        |), t AS (SELECT sum(cents) AS tot FROM rev),
        |r AS (
        |  SELECT l_partkey, cents,
        |    row_number() OVER (ORDER BY cents DESC, l_partkey) AS rk,
        |    sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM rev
        |)
        |SELECT l_partkey, round(cents / 100.0, 2) AS revenue, rk,
        |  round(cum::DOUBLE / (SELECT tot FROM t), 6) AS cum_share,
        |  (cum - cents)::DOUBLE / (SELECT tot FROM t) < 0.8 AS in_top80
        |FROM r ORDER BY rk""".stripMargin,
    // Generated per profiled column so the Spark list and the oracle
    // can never drift apart.
    "profile_table" ->
      (ProfileCols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
           |  round(min($c)::DOUBLE, 6) AS min_val,
           |  round(max($c)::DOUBLE, 6) AS max_val FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
    // Generated from the same edge list the Spark audit walks.
    "ri_orphans" ->
      (RiEdges.map { case (label, fkT, fk, pkT, pk, _) =>
        s"""SELECT '$label' AS edge, (SELECT count(*) FROM $fkT) AS fk_rows,
           |  (SELECT count(*) FROM $fkT f WHERE NOT EXISTS
           |    (SELECT 1 FROM $pkT p WHERE p.$pk = f.$fk)) AS orphans""".stripMargin }
        .mkString("", "\nUNION ALL\n", "\nORDER BY edge")),
    "rfm_segments" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate,
        |    round(o_totalprice * 100, 0)::BIGINT AS cents
        |  FROM orders
        |), b AS (
        |  SELECT o_custkey, max(o_orderdate) AS last_order,
        |    count(*) AS n_orders, sum(cents) AS cents
        |  FROM o GROUP BY 1
        |), q AS (
        |  SELECT o_custkey,
        |    date_diff('day', last_order, (SELECT max(o_orderdate) FROM o))::BIGINT
        |      AS recency_days,
        |    n_orders, cents
        |  FROM b
        |), t AS (
        |  SELECT o_custkey, recency_days, n_orders, cents,
        |    ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r,
        |    ntile(4) OVER (ORDER BY n_orders DESC, o_custkey) AS f,
        |    ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS m
        |  FROM q
        |)
        |SELECT o_custkey, recency_days, n_orders,
        |  round(cents / 100.0, 2) AS monetary, r, f, m,
        |  (r * 100 + f * 10 + m) AS segment
        |FROM t ORDER BY o_custkey""".stripMargin,
    "benford_revenue" ->
      """WITH d AS (
        |  SELECT substr((round(o_totalprice * 100, 0)::BIGINT)::VARCHAR, 1, 1)::BIGINT
        |    AS digit
        |  FROM orders
        |), c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM c)
        |SELECT digit, n,
        |  round(n::DOUBLE / (SELECT tot FROM t), 6) AS share,
        |  round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_p,
        |  round(pow(n::DOUBLE / (SELECT tot FROM t) - ln(1.0 + 1.0 / digit) / ln(10.0), 2)
        |    / (ln(1.0 + 1.0 / digit) / ln(10.0)) * (SELECT tot FROM t), 6) AS chi2_term
        |FROM c ORDER BY digit""".stripMargin,
    "doc_keywords" ->
      """WITH tf AS (
        |  SELECT doc_id, tok AS term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |    FROM documents
        |  ) GROUP BY 1, 2
        |), dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, term, round(tf * ln(n_docs / df), 6) AS score
        |  FROM tf JOIN dft USING (term), n
        |), r AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM sc
        |)
        |SELECT doc_id, rk, term, score FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "events_theilsen" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*)::DOUBLE AS x
        |  FROM events GROUP BY 1, 2
        |), b AS (SELECT min(hour_us) AS mn FROM h),
        |g AS (
        |  SELECT event_type, (hour_us - (SELECT mn FROM b)) // 3600000000 AS hr, x
        |  FROM h
        |), p AS (
        |  SELECT a.event_type, (b2.x - a.x) / (b2.hr - a.hr) AS slope
        |  FROM g a JOIN g b2 ON a.event_type = b2.event_type AND a.hr < b2.hr
        |)
        |SELECT event_type, count(*) AS n_pairs,
        |  round(quantile_cont(slope, 0.5), 6) AS median_slope
        |FROM p GROUP BY 1 ORDER BY event_type""".stripMargin,
    // Same per-row quality formula as text_quality, averaged unrounded.
    "corpus_datacard" ->
      """WITH d AS (
        |  SELECT lang, source, n_chars,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS n_toks,
        |    (least(greatest(length(text),1) / 200.0, 1.0)
        |     + greatest(1.0 - 4.0 * len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
        |         / greatest(length(text),1), 0.0)
        |     + least(5.0 * len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that|for)\b'))
        |         / greatest(len(regexp_extract_all(text, '\S+')),1), 1.0)) / 3.0
        |      AS q
        |  FROM documents
        |)
        |SELECT count(*) AS n_docs, sum(n_toks)::BIGINT AS total_tokens,
        |  round(avg(q), 6) AS mean_quality,
        |  count(DISTINCT lang) AS n_langs, count(DISTINCT source) AS n_sources,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
        |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
        |FROM d""".stripMargin,
    "events_percentile_series" ->
      """SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |  count(*) AS n,
        |  round(quantile_cont(value, 0.1), 6) AS p10,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90
        |FROM events GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    // Norm = sqrt(list_inner_product) mirrors the native array_dot;
    // zero-component count is exact float equality on both engines.
    "vec_profile" ->
      """WITH e AS (
        |  SELECT label,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm,
        |    len(list_filter(embedding, x -> x = 0.0))::BIGINT AS n_zero
        |  FROM embeddings
        |)
        |SELECT label, count(*) AS n_vecs,
        |  round(avg(nrm), 6) AS mean_norm,
        |  round(quantile_cont(nrm, 0.5), 6) AS median_norm,
        |  max(n_zero) AS max_zero_components
        |FROM e GROUP BY 1 ORDER BY label""".stripMargin,
    "repeat_latency" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders
        |), g AS (
        |  SELECT o_custkey, count(*) AS n,
        |    date_diff('day', min(o_orderdate), max(o_orderdate))::BIGINT
        |      AS gap_days
        |  FROM r WHERE rn <= 2 GROUP BY 1
        |)
        |SELECT count(*) AS n_repeat,
        |  round(avg(gap_days), 6) AS mean_days,
        |  round(quantile_cont(gap_days, 0.5), 6) AS p50,
        |  round(quantile_cont(gap_days, 0.9), 6) AS p90
        |FROM g WHERE n = 2""".stripMargin,
    "segment_brand_lift" ->
      """WITH base AS (
        |  SELECT c_mktsegment, p_brand
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN part ON l_partkey = p_partkey
        |), cell AS (
        |  SELECT c_mktsegment, p_brand, count(*) AS n FROM base GROUP BY 1, 2
        |), r AS (SELECT c_mktsegment, sum(n) AS rn FROM cell GROUP BY 1),
        |c AS (SELECT p_brand, sum(n) AS cn FROM cell GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM cell)
        |SELECT cell.c_mktsegment, cell.p_brand, cell.n,
        |  round(cell.n::DOUBLE * (SELECT tot FROM t) / (r.rn * c.cn), 6) AS lift
        |FROM cell JOIN r ON cell.c_mktsegment = r.c_mktsegment
        |JOIN c ON cell.p_brand = c.p_brand
        |ORDER BY cell.c_mktsegment, cell.p_brand""".stripMargin,
    "rank_movers" ->
      """WITH li AS (
        |  SELECT l_partkey, epoch_us(l_shipdate) AS sdus,
        |    round(l_extendedprice * (1.0 - l_discount) * 100, 0)::BIGINT AS cents
        |  FROM lineitem
        |), cut AS (SELECT (min(sdus) + max(sdus)) // 2 AS cut FROM li),
        |w AS (
        |  SELECT CASE WHEN sdus < (SELECT cut FROM cut) THEN 0 ELSE 1 END
        |      AS period,
        |    l_partkey, sum(cents) AS c
        |  FROM li GROUP BY 1, 2
        |), r AS (
        |  SELECT period, l_partkey, c,
        |    row_number() OVER (PARTITION BY period ORDER BY c DESC, l_partkey)
        |      AS rk
        |  FROM w
        |), prev AS (SELECT l_partkey, rk AS rk_prev FROM r WHERE period = 0),
        |lastw AS (
        |  SELECT l_partkey, rk AS rk_last, round(c / 100.0, 2) AS revenue
        |  FROM r WHERE period = 1
        |)
        |SELECT l_partkey, rk_prev, rk_last, rk_prev - rk_last AS delta, revenue
        |FROM lastw JOIN prev USING (l_partkey)
        |ORDER BY delta DESC, l_partkey LIMIT 10""".stripMargin,
    // Residual z ranks on the ROUNDED |z| with an hour tiebreak — the
    // same round-then-rank discipline as doc_keywords.
    "events_seasonal_anomaly" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), hx AS (
        |  SELECT *, (hour_us // 86400000000 + 4) % 7 AS dow,
        |    (hour_us // 3600000000) % 24 AS hod
        |  FROM h
        |), cell AS (
        |  SELECT event_type, dow, hod, sum(n) AS cn, count(*) AS cc
        |  FROM hx GROUP BY 1, 2, 3
        |), res AS (
        |  SELECT hx.event_type, hx.hour_us, hx.n,
        |    cell.cn::DOUBLE / cell.cc AS expected,
        |    hx.n - cell.cn::DOUBLE / cell.cc AS resid
        |  FROM hx JOIN cell
        |    ON hx.event_type = cell.event_type AND hx.dow = cell.dow
        |      AND hx.hod = cell.hod
        |), sd AS (
        |  SELECT event_type, stddev_samp(resid) AS sd FROM res GROUP BY 1
        |), z AS (
        |  SELECT res.event_type, res.hour_us, res.n, res.expected,
        |    round(res.resid / sd.sd, 4) AS z
        |  FROM res JOIN sd ON res.event_type = sd.event_type
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(z) DESC, hour_us) AS rk
        |  FROM z
        |)
        |SELECT event_type, rk, hour_us, n, round(expected, 6) AS expected, z
        |FROM r WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin,
    "doc_readability" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS n_words,
        |    greatest(1, len(regexp_extract_all(text, '[^.!?]*[.!?]')))::BIGINT
        |      AS n_sents,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS n_syl
        |  FROM documents
        |)
        |SELECT doc_id, n_words, n_sents, n_syl,
        |  round(206.835 - 1.015 * n_words::DOUBLE / n_sents
        |    - 84.6 * n_syl::DOUBLE / n_words, 4) AS flesch
        |FROM d WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    "kwic_snippets" ->
      """SELECT doc_id, strpos(lower(text), 'vector')::BIGINT AS pos,
        |  substring(text, greatest(strpos(lower(text), 'vector') - 30, 1), 66)
        |    AS snippet
        |FROM documents
        |WHERE strpos(lower(text), 'vector') > 0
        |ORDER BY doc_id""".stripMargin,
    "price_volume_mix" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity,
        |    round(l_extendedprice * (1.0 - l_discount) * 100, 0)::BIGINT AS cents,
        |    epoch_us(o_orderdate) AS odus
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), cut AS (SELECT (min(odus) + max(odus)) // 2 AS cut FROM li),
        |bp AS (
        |  SELECT l_partkey,
        |    CASE WHEN odus < (SELECT cut FROM cut) THEN 0 ELSE 1 END AS period,
        |    sum(l_quantity) AS q, sum(cents) AS c
        |  FROM li GROUP BY 1, 2
        |), p0 AS (SELECT l_partkey, q AS q0, c AS c0 FROM bp WHERE period = 0),
        |p1 AS (SELECT l_partkey, q AS q1, c AS c1 FROM bp WHERE period = 1)
        |SELECT count(*) AS n_parts,
        |  sum(c1 - c0)::BIGINT AS delta_cents,
        |  round(sum((q1 - q0) * (c0::DOUBLE / q0)) / 100.0, 2) AS volume_effect,
        |  round(sum(q1 * (c1::DOUBLE / q1 - c0::DOUBLE / q0)) / 100.0, 2)
        |    AS price_effect
        |FROM p0 JOIN p1 USING (l_partkey)""".stripMargin,
    "new_repeat_revenue" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    round(o_totalprice * 100, 0)::BIGINT AS cents,
        |    (year(o_orderdate) * 100 + month(o_orderdate))::BIGINT AS month,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) = 1 AS is_first
        |  FROM orders
        |)
        |SELECT month,
        |  round(sum(CASE WHEN is_first THEN cents ELSE 0 END) / 100.0, 2)
        |    AS new_revenue,
        |  round(sum(CASE WHEN NOT is_first THEN cents ELSE 0 END) / 100.0, 2)
        |    AS repeat_revenue,
        |  count(*) FILTER (WHERE is_first) AS n_new,
        |  count(*) FILTER (WHERE NOT is_first) AS n_repeat
        |FROM o GROUP BY month ORDER BY month""".stripMargin,
    "target_encode" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    round(o_totalprice * 100, 0)::BIGINT AS cents
        |  FROM orders
        |), a AS (
        |  SELECT o_orderpriority AS pr, sum(cents) AS sc, count(*) AS n
        |  FROM o GROUP BY 1
        |)
        |SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN n > 1
        |    THEN round((sc - cents)::DOUBLE / (n - 1) / 100.0, 6) END AS loo_mean
        |FROM o JOIN a ON o_orderpriority = pr
        |ORDER BY o_orderkey""".stripMargin,
    "feature_hash" ->
      """SELECT ('0x' || substr(md5(event_type || ':' || user_id::VARCHAR), 1, 15))
        |    ::BIGINT % 64 AS bucket,
        |  count(*) AS n_rows,
        |  count(DISTINCT (event_type, user_id)) AS n_pairs
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "best_split" ->
      """WITH o AS (
        |  SELECT (o_orderstatus = 'F')::BIGINT AS y,
        |    round(o_totalprice * 100, 0)::BIGINT AS x
        |  FROM orders
        |), b AS (
        |  SELECT min(x) AS mn, max(x) AS mx, count(*) AS n, sum(y) AS pos FROM o
        |), cands AS (
        |  SELECT k, mn + k * (mx - mn) // 10 AS thr, n, pos
        |  FROM b, (SELECT unnest(generate_series(1, 9)) AS k)
        |), stats AS (
        |  SELECT k, thr, n, pos,
        |    count(*) FILTER (WHERE x <= thr) AS nl,
        |    count(*) FILTER (WHERE x <= thr AND y = 1) AS pl
        |  FROM o, cands GROUP BY k, thr, n, pos
        |), sc AS (
        |  SELECT k, thr, nl, pl, n, pos, n - nl AS nr, pos - pl AS pr,
        |    round(
        |      (CASE WHEN pos = 0 OR pos = n THEN 0.0 ELSE
        |        -(pos::DOUBLE / n) * ln(pos::DOUBLE / n)
        |        - (1.0 - pos::DOUBLE / n) * ln(1.0 - pos::DOUBLE / n) END)
        |      - (nl::DOUBLE / n) *
        |      (CASE WHEN pl = 0 OR pl = nl THEN 0.0 ELSE
        |        -(pl::DOUBLE / nl) * ln(pl::DOUBLE / nl)
        |        - (1.0 - pl::DOUBLE / nl) * ln(1.0 - pl::DOUBLE / nl) END)
        |      - (nr::DOUBLE / n) *
        |      (CASE WHEN pr = 0 OR pr = nr THEN 0.0 ELSE
        |        -(pr::DOUBLE / nr) * ln(pr::DOUBLE / nr)
        |        - (1.0 - pr::DOUBLE / nr) * ln(1.0 - pr::DOUBLE / nr) END), 6)
        |      AS gain
        |  FROM stats
        |), r AS (
        |  SELECT k, thr, nl, pl, gain,
        |    row_number() OVER (ORDER BY gain DESC, thr) = 1 AS is_best
        |  FROM sc
        |)
        |SELECT k, thr, nl, pl, gain, is_best FROM r ORDER BY k""".stripMargin,
    "events_streaks" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, sum(n) AS total, count(*) AS n_hours
        |  FROM h GROUP BY 1
        |), a AS (
        |  SELECT h.event_type, h.hour_us,
        |    row_number() OVER (PARTITION BY h.event_type ORDER BY h.hour_us) AS rn
        |  FROM h JOIN t ON h.event_type = t.event_type
        |  WHERE h.n * t.n_hours > t.total
        |), g AS (
        |  SELECT event_type, hour_us // 3600000000 - rn AS grp,
        |    count(*) AS len
        |  FROM a GROUP BY 1, 2
        |)
        |SELECT event_type, max(len) AS longest_streak, count(*) AS n_streaks
        |FROM g GROUP BY 1 ORDER BY event_type""".stripMargin,
    "weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    round(l_extendedprice / l_quantity, 6) AS unit,
        |    l_quantity AS wt, l_orderkey, l_linenumber
        |  FROM lineitem
        |), c AS (
        |  SELECT *,
        |    sum(wt) OVER (PARTITION BY flag
        |      ORDER BY unit, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(wt) OVER (PARTITION BY flag) AS tot
        |  FROM li
        |), f AS (
        |  SELECT flag, unit, tot,
        |    row_number() OVER (PARTITION BY flag
        |      ORDER BY unit, l_orderkey, l_linenumber) AS r
        |  FROM c WHERE cum * 2 >= tot
        |)
        |SELECT flag, unit AS weighted_median, round(tot, 2) AS total_weight
        |FROM f WHERE r = 1 ORDER BY flag""".stripMargin,
    "class_rebalance" ->
      """WITH r AS (
        |  SELECT event_id, event_type,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ((event_id % 1000000) * 2654435761 + 77) % 1000000,
        |        event_id) AS rk
        |  FROM events
        |), t AS (
        |  SELECT min(cnt) AS target FROM (
        |    SELECT count(*) AS cnt FROM events GROUP BY event_type)
        |)
        |SELECT event_id, event_type, rk FROM r, t
        |WHERE rk <= t.target ORDER BY event_id""".stripMargin,
    "user_cumulative" ->
      """WITH fd AS (
        |  SELECT user_id, min(epoch_us(ts) // 86400000000) AS day
        |  FROM events GROUP BY 1
        |), nu AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1),
        |days AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day FROM events)
        |SELECT d.day, coalesce(nu.new_users, 0) AS new_users,
        |  sum(coalesce(nu.new_users, 0)) OVER (ORDER BY d.day
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_users
        |FROM days d LEFT JOIN nu ON d.day = nu.day
        |ORDER BY d.day""".stripMargin,
    "revenue_lorenz" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(round(o_totalprice * 100, 0)::BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT o_custkey, cents,
        |    row_number() OVER (ORDER BY cents, o_custkey) AS rk,
        |    sum(cents) OVER (ORDER BY cents, o_custkey
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM spend
        |), t AS (SELECT sum(cents) AS tot, count(*) AS n FROM spend)
        |SELECT (rk * 10) // n AS decile, rk AS n_customers,
        |  round(cum::DOUBLE / (SELECT tot FROM t), 6) AS cum_share
        |FROM r, t
        |WHERE (rk * 10) // n > ((rk - 1) * 10) // n
        |ORDER BY decile""".stripMargin,
    "catalog_coverage" ->
      """WITH ordered AS (SELECT DISTINCT l_partkey FROM lineitem),
        |nev AS (
        |  SELECT p_brand, count(*) AS n_never FROM part
        |  WHERE p_partkey NOT IN (SELECT l_partkey FROM ordered)
        |  GROUP BY 1
        |), tot AS (SELECT p_brand, count(*) AS n_parts FROM part GROUP BY 1)
        |SELECT t.p_brand, t.n_parts, coalesce(nev.n_never, 0) AS n_never,
        |  round((t.n_parts - coalesce(nev.n_never, 0))::DOUBLE / t.n_parts, 6)
        |    AS coverage
        |FROM tot t LEFT JOIN nev ON t.p_brand = nev.p_brand
        |ORDER BY t.p_brand""".stripMargin,
    "events_geomean" ->
      """SELECT event_type, count(*) AS n,
        |  round(exp(avg(ln(value))), 6) AS geo_mean
        |FROM events WHERE value > 0
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "quantile_norm" ->
      """WITH ev AS (SELECT event_id, event_type, value FROM events),
        |pooled AS (
        |  SELECT row_number() OVER (ORDER BY value, event_id) - 1 AS idx,
        |    value AS pooled_value
        |  FROM ev
        |), n AS (SELECT count(*) AS nn FROM ev),
        |g AS (
        |  SELECT event_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS i,
        |    count(*) OVER (PARTITION BY event_type) AS m
        |  FROM ev
        |), m2 AS (
        |  SELECT event_id, event_type, value,
        |    CASE WHEN m = 1 THEN (nn - 1) // 2
        |         ELSE ((i - 1) * (nn - 1)) // (m - 1) END AS idx
        |  FROM g, n
        |)
        |SELECT m2.event_id, m2.event_type, round(m2.value, 6) AS value,
        |  round(p.pooled_value, 6) AS norm_value
        |FROM m2 JOIN pooled p ON m2.idx = p.idx
        |ORDER BY event_id""".stripMargin,
    "scd2_lookup" ->
      """WITH v AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS valid_from_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS valid_to_us
        |  FROM events
        |), t AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS t FROM events
        |)
        |SELECT user_id, event_type, event_id, valid_from_us
        |FROM v, t
        |WHERE valid_from_us <= t.t AND (valid_to_us IS NULL OR valid_to_us > t.t)
        |ORDER BY user_id, event_type""".stripMargin,
    "events_heatmap" ->
      """WITH g AS (
        |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    (epoch_us(ts) // 3600000000) % 24 AS hod, count(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), tt AS (SELECT sum(n_events) AS tot FROM g)
        |SELECT dow, hod, n_events,
        |  round(n_events::DOUBLE / (SELECT tot FROM tt), 6) AS share
        |FROM g ORDER BY dow, hod""".stripMargin,
    // Two-stage on the Spark side, one-stage here: integer micro-unit
    // sums make the associativity difference provably invisible.
    "rollup_reuse" ->
      """SELECT (epoch_us(ts) // 86400000000) // 7 AS week, event_type,
        |  count(*) AS n_events,
        |  round(sum(round(value * 1000000, 0)::BIGINT) / 1000000.0, 6) AS sum_value
        |FROM events GROUP BY 1, 2
        |ORDER BY week, event_type""".stripMargin,
    "vocab_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |  FROM documents
        |), vocab AS (
        |  SELECT term FROM (
        |    SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS rk
        |    FROM toks GROUP BY term
        |  ) WHERE rk <= 1000
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |  count(*) FILTER (WHERE v.term IS NULL) AS n_oov,
        |  round(count(*) FILTER (WHERE v.term IS NULL)::DOUBLE / count(*), 6)
        |    AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.term = v.term
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_sentences" ->
      """WITH s AS (
        |  SELECT doc_id, trim(unnest(regexp_extract_all(text, '[^.!?]+'))) AS sent
        |  FROM documents
        |)
        |SELECT doc_id, count(*) AS n_sentences,
        |  round(avg(length(sent)), 6) AS mean_len,
        |  max(length(sent))::BIGINT AS max_len
        |FROM s WHERE length(sent) > 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "forget_users" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events
        |), forget AS (
        |  SELECT DISTINCT user_id FROM ev
        |  WHERE ((user_id % 1000000) * 2654435761 + 99) % 1000000 < 20000
        |), b AS (SELECT day, count(*) AS n_before FROM ev GROUP BY 1),
        |a AS (
        |  SELECT day, count(*) AS n_after FROM ev
        |  WHERE user_id NOT IN (SELECT user_id FROM forget) GROUP BY 1
        |)
        |SELECT b.day, b.n_before, coalesce(a.n_after, 0) AS n_after,
        |  b.n_before - coalesce(a.n_after, 0) AS n_removed
        |FROM b LEFT JOIN a ON b.day = a.day
        |ORDER BY b.day""".stripMargin,
    "user_churn" ->
      """WITH du AS (
        |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events
        |), cur AS (SELECT day, user_id FROM du),
        |prev AS (SELECT day + 1 AS day, user_id FROM du)
        |SELECT coalesce(c.day, p.day) AS day,
        |  count(*) FILTER (WHERE c.user_id IS NOT NULL AND p.user_id IS NOT NULL)
        |    AS retained,
        |  count(*) FILTER (WHERE c.user_id IS NOT NULL AND p.user_id IS NULL)
        |    AS new_users,
        |  count(*) FILTER (WHERE c.user_id IS NULL AND p.user_id IS NOT NULL)
        |    AS churned
        |FROM cur c FULL OUTER JOIN prev p
        |  ON c.day = p.day AND c.user_id = p.user_id
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "fanout_profile" ->
      """WITH deg AS (
        |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1
        |), hist AS (
        |  SELECT n_orders, count(*) AS n_customers FROM deg GROUP BY 1
        |), z AS (
        |  SELECT 0::BIGINT AS n_orders, count(*) AS n_customers FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |)
        |SELECT * FROM hist
        |UNION ALL SELECT * FROM z WHERE n_customers > 0
        |ORDER BY n_orders""".stripMargin,
    "k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  floor(c_acctbal / 1000)::BIGINT AS bal_band,
        |  count(*) AS n, count(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2, 3
        |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin,
    "part_best_supplier" ->
      """WITH u AS (
        |  SELECT l_partkey, l_suppkey,
        |    round(l_extendedprice / l_quantity, 6) AS unit_price
        |  FROM lineitem
        |), ns AS (
        |  SELECT l_partkey, count(DISTINCT l_suppkey) AS n_suppliers
        |  FROM u GROUP BY 1
        |), r AS (
        |  SELECT l_partkey, l_suppkey, unit_price,
        |    row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY unit_price, l_suppkey) AS rn
        |  FROM u
        |)
        |SELECT r.l_partkey, r.l_suppkey AS best_suppkey, r.unit_price,
        |  ns.n_suppliers
        |FROM r JOIN ns ON r.l_partkey = ns.l_partkey
        |WHERE r.rn = 1 ORDER BY r.l_partkey""".stripMargin,
    // Deterministic Poisson(1) multiplicities from the shared integer
    // hash; exact micro-unit sums per resample; CI = interpolated order
    // statistics over the 100 resample means.
    "eval_bootstrap" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, round(value * 1000000)::BIGINT AS vmicro
        |  FROM events WHERE value IS NOT NULL
        |), ex AS (
        |  SELECT event_type, vmicro,
        |    b.b, ((event_id % 1000000) * 2654435761 + b.b * 97 + 13) % 1000000 AS u
        |  FROM ev, LATERAL (SELECT unnest(range(0, 100)) AS b) b
        |), mm AS (
        |  SELECT event_type, b, vmicro,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |      WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |      WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
        |      ELSE 6 END AS mult
        |  FROM ex
        |), means AS (
        |  SELECT event_type, b,
        |    CASE WHEN sum(mult) > 0 THEN
        |      sum(mult * vmicro)::DOUBLE / (sum(mult) * 1000000.0) END AS mean_b
        |  FROM mm GROUP BY 1, 2
        |)
        |SELECT event_type, count(*)::BIGINT AS n_resamples,
        |  round(quantile_cont(mean_b, 0.05), 6) AS ci_lo,
        |  round(quantile_cont(mean_b, 0.5), 6) AS ci_mid,
        |  round(quantile_cont(mean_b, 0.95), 6) AS ci_hi
        |FROM means GROUP BY 1 ORDER BY event_type""".stripMargin,
    // Sign sequence vs the interpolated median in (ts, event_id) order;
    // runs counted by lag breaks; μ/σ mirrored operation-for-operation.
    "events_runs_test" ->
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS tsu, value FROM events
        |), m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM e GROUP BY 1
        |), sgn AS (
        |  SELECT e.event_type, tsu, event_id,
        |    CASE WHEN value > med THEN 1 ELSE -1 END AS sgn
        |  FROM e JOIN m ON e.event_type = m.event_type
        |  WHERE value <> med
        |), brk AS (
        |  SELECT event_type, sgn,
        |    CASE WHEN lag(sgn) OVER w IS NULL OR lag(sgn) OVER w <> sgn
        |      THEN 1 ELSE 0 END AS brk
        |  FROM sgn WINDOW w AS (PARTITION BY event_type ORDER BY tsu, event_id)
        |), g AS (
        |  SELECT event_type, sum(brk)::BIGINT AS n_runs,
        |    sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_above,
        |    sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)::BIGINT AS n_below
        |  FROM brk GROUP BY 1
        |)
        |SELECT event_type, n_runs, n_above, n_below,
        |  round((n_runs - (2.0 * n_above * n_below / (n_above + n_below) + 1.0))
        |    / sqrt(2.0 * n_above * n_below
        |      * (2.0 * n_above * n_below - (n_above + n_below))
        |      / ((n_above + n_below)::DOUBLE * (n_above + n_below)
        |         * ((n_above + n_below) - 1))), 6) AS z
        |FROM g ORDER BY event_type""".stripMargin,
    "fd_audit" ->
      """WITH
        |f0 AS (SELECT 'nation: n_nationkey -> n_regionkey' AS fd, count(*)::BIGINT AS n_lhs,
        |  sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
        |  max(d)::BIGINT AS max_rhs, max(d) = 1 AS holds
        |  FROM (SELECT n_nationkey, count(DISTINCT n_regionkey)::BIGINT AS d FROM nation GROUP BY 1)),
        |f1 AS (SELECT 'part: p_name -> p_brand', count(*)::BIGINT,
        |  sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT, max(d)::BIGINT, max(d) = 1
        |  FROM (SELECT p_name, count(DISTINCT p_brand)::BIGINT AS d FROM part GROUP BY 1)),
        |f2 AS (SELECT 'part: p_brand -> p_type', count(*)::BIGINT,
        |  sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT, max(d)::BIGINT, max(d) = 1
        |  FROM (SELECT p_brand, count(DISTINCT p_type)::BIGINT AS d FROM part GROUP BY 1)),
        |f3 AS (SELECT 'customer: c_nationkey -> c_mktsegment', count(*)::BIGINT,
        |  sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT, max(d)::BIGINT, max(d) = 1
        |  FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment)::BIGINT AS d FROM customer GROUP BY 1)),
        |f4 AS (SELECT 'orders: o_custkey -> o_orderpriority', count(*)::BIGINT,
        |  sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT, max(d)::BIGINT, max(d) = 1
        |  FROM (SELECT o_custkey, count(DISTINCT o_orderpriority)::BIGINT AS d FROM orders GROUP BY 1)),
        |f5 AS (SELECT 'lineitem: l_orderkey -> l_shipdate', count(*)::BIGINT,
        |  sum(CASE WHEN d > 1 THEN 1 ELSE 0 END)::BIGINT, max(d)::BIGINT, max(d) = 1
        |  FROM (SELECT l_orderkey, count(DISTINCT l_shipdate)::BIGINT AS d FROM lineitem GROUP BY 1))
        |SELECT * FROM f0 UNION ALL SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4 UNION ALL SELECT * FROM f5
        |ORDER BY fd""".stripMargin,
    // Pairwise element join per vector recomputes the same Gram the
    // engine accumulates in one pass. Both sides quantize components
    // to the 1e-4 grid first, so every sum is an exact integer and the
    // closed-form covariance is bit-identical across engines.
    "emb_covariance" ->
      """WITH x AS (
        |  SELECT vec_id, t.i::BIGINT - 1 AS i,
        |    round(embedding[t.i]::DOUBLE * 10000)::BIGINT AS q
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
        |), p AS (
        |  SELECT a.i AS i, b.i AS j, count(*)::BIGINT AS n,
        |    sum(a.q * b.q)::BIGINT AS g,
        |    sum(a.q)::BIGINT AS sa, sum(b.q)::BIGINT AS sb
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2
        |)
        |SELECT i, j, n,
        |  round((g - sa * sb / n) / (n - 1) / 100000000.0, 6) + 0.0 AS cov
        |FROM p ORDER BY i, j""".stripMargin,
    "corr_matrix" ->
      """WITH g AS (
        |  SELECT count(*)::BIGINT AS n,
        |    round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS c1,
        |    round(corr(l_quantity, l_discount), 6) + 0.0 AS c2,
        |    round(corr(l_quantity, l_tax), 6) + 0.0 AS c3,
        |    round(corr(l_extendedprice, l_discount), 6) + 0.0 AS c4,
        |    round(corr(l_extendedprice, l_tax), 6) + 0.0 AS c5,
        |    round(corr(l_discount, l_tax), 6) + 0.0 AS c6
        |  FROM lineitem
        |)
        |SELECT col_a, col_b, corr, n FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, c1 AS corr, n FROM g
        |  UNION ALL SELECT 'l_quantity', 'l_discount', c2, n FROM g
        |  UNION ALL SELECT 'l_quantity', 'l_tax', c3, n FROM g
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', c4, n FROM g
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', c5, n FROM g
        |  UNION ALL SELECT 'l_discount', 'l_tax', c6, n FROM g
        |) ORDER BY col_a, col_b""".stripMargin,
    "lead_time" ->
      """WITH j AS (
        |  SELECT o_orderpriority,
        |    date_diff('day', o_orderdate, l_shipdate)::BIGINT AS days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |)
        |SELECT o_orderpriority, count(*) AS n,
        |  round(avg(days), 6) AS mean_days,
        |  round(quantile_cont(days, 0.5), 6) AS p50,
        |  round(quantile_cont(days, 0.9), 6) AS p90,
        |  round(quantile_cont(days, 0.99), 6) AS p99
        |FROM j GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "supplier_hhi" ->
      """WITH rev AS (
        |  SELECT n_name, s_suppkey,
        |    sum(round(l_extendedprice * (1.0 - l_discount) * 100, 0)::BIGINT)
        |      AS cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2
        |), t AS (SELECT n_name, sum(cents) AS tot FROM rev GROUP BY 1)
        |SELECT rev.n_name, count(*) AS n_suppliers,
        |  round(max(t.tot) / 100.0, 2) AS revenue,
        |  round(sum(pow(rev.cents::DOUBLE / t.tot, 2)), 6) AS hhi,
        |  round(max(rev.cents::DOUBLE / t.tot), 6) AS top_share
        |FROM rev JOIN t ON rev.n_name = t.n_name
        |GROUP BY rev.n_name ORDER BY rev.n_name""".stripMargin,
    "events_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_gaps,
        |  round(avg(gap_us), 6) AS mean_us,
        |  round(quantile_cont(gap_us, 0.5), 6) AS p50_us,
        |  round(quantile_cont(gap_us, 0.9), 6) AS p90_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    // Same closed-form exponential weights as events_ewma (seed carries
    // (1-a)^(T-1)); weekly sizes/intervals exact integers, one pinned
    // double chain per part.
    "croston_forecast" ->
      """WITH weekly AS (
        |  SELECT l_partkey, epoch_us(l_shipdate) // 604800000000 AS wk,
        |    sum(CAST(l_quantity AS BIGINT))::BIGINT AS z
        |  FROM lineitem GROUP BY 1, 2
        |), w0 AS (SELECT min(wk) AS w0 FROM weekly),
        |pts AS (
        |  SELECT l_partkey, wk, z,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY wk) AS rn,
        |    coalesce(wk - lag(wk) OVER (PARTITION BY l_partkey ORDER BY wk),
        |      wk - (SELECT w0 FROM w0) + 1) AS iv
        |  FROM weekly
        |), t AS (SELECT l_partkey, max(rn) AS t FROM pts GROUP BY 1),
        |wts AS (
        |  SELECT p.l_partkey, p.z, p.iv,
        |    CASE WHEN p.rn = 1 THEN pow(0.7, t.t - 1)
        |      ELSE 0.3 * pow(0.7, t.t - p.rn) END AS w, t.t
        |  FROM pts p JOIN t ON t.l_partkey = p.l_partkey
        |), agg AS (
        |  SELECT l_partkey, max(t)::BIGINT AS n_points,
        |    sum(w * z) AS zh, sum(w * iv) AS vh
        |  FROM wts GROUP BY 1
        |)
        |SELECT l_partkey, n_points, round(zh, 6) AS z_hat,
        |  round(vh, 6) AS v_hat, round(zh / vh, 6) AS croston,
        |  round(0.85 * zh / vh, 6) AS sba
        |FROM agg ORDER BY l_partkey""".stripMargin,
    "events_ewma" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*)::DOUBLE AS x,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(date_trunc('hour', ts))) AS rn
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT a.event_type, a.hour_us, max(a.x)::BIGINT AS n_events,
        |  round(sum(pow(0.7, a.rn - b.rn) * b.x)
        |    / sum(pow(0.7, a.rn - b.rn)), 6) AS ewma
        |FROM h a JOIN h b ON a.event_type = b.event_type AND b.rn <= a.rn
        |GROUP BY a.event_type, a.hour_us
        |ORDER BY a.event_type, a.hour_us""".stripMargin,
    "ab_ttest" ->
      """WITH v AS (
        |  SELECT event_type, value,
        |    CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000 < 500000
        |      THEN 0 ELSE 1 END AS variant
        |  FROM events
        |), g AS (
        |  SELECT event_type, variant, count(*) AS n,
        |    avg(value) AS mean, var_samp(value) AS vr
        |  FROM v GROUP BY 1, 2
        |)
        |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
        |  round(a.mean, 6) AS mean_a, round(b.mean, 6) AS mean_b,
        |  round((b.mean - a.mean) / sqrt(a.vr / a.n + b.vr / b.n), 6) AS t_stat
        |FROM g a JOIN g b
        |  ON a.event_type = b.event_type AND a.variant = 0 AND b.variant = 1
        |ORDER BY a.event_type""".stripMargin,
    // Exact-integer rank bookkeeping (2·avgrank = 2r + t − 1) and the
    // tie-corrected normal variance, mirroring the engine's arithmetic
    // operation-for-operation so the single z division is bit-equal.
    "events_mannwhitney" ->
      """WITH v AS (
        |  SELECT event_type, value,
        |    CASE WHEN ((user_id % 1000000) * 2654435761 + 13) % 1000000 < 500000
        |      THEN 0 ELSE 1 END AS variant
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT event_type, variant,
        |    rank() OVER (PARTITION BY event_type ORDER BY value) AS rnk,
        |    count(*) OVER (PARTITION BY event_type, value) AS tcnt
        |  FROM v
        |), g AS (
        |  SELECT event_type, variant, count(*)::BIGINT AS n,
        |    sum(2 * rnk + tcnt - 1)::BIGINT AS r2sum
        |  FROM r GROUP BY 1, 2
        |), t3 AS (
        |  SELECT event_type, sum(t * t * t - t)::BIGINT AS tie3 FROM (
        |    SELECT event_type, value, count(*)::BIGINT AS t FROM v GROUP BY 1, 2
        |  ) GROUP BY 1
        |)
        |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
        |  round((a.r2sum - a.n * (a.n + 1))::DOUBLE / 2, 6) AS u_a,
        |  round((a.r2sum - a.n * (a.n + 1) - a.n * b.n)::DOUBLE
        |    / (2.0 * sqrt(a.n::DOUBLE * b.n / 12.0
        |      * ((a.n + b.n + 1) - t3.tie3::DOUBLE
        |         / ((a.n + b.n) * (a.n + b.n - 1))))), 6) AS z
        |FROM g a JOIN g b
        |  ON a.event_type = b.event_type AND a.variant = 0 AND b.variant = 1
        |JOIN t3 ON t3.event_type = a.event_type
        |ORDER BY a.event_type""".stripMargin,
    "revenue_growth" ->
      """WITH m AS (
        |  SELECT (year(o_orderdate) * 100 + month(o_orderdate))::BIGINT AS month,
        |    sum(round(o_totalprice * 100, 0)::BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), l AS (
        |  SELECT month, cents,
        |    lag(cents) OVER (ORDER BY month) AS prev,
        |    lag(cents, 12) OVER (ORDER BY month) AS prev12
        |  FROM m
        |)
        |SELECT month, round(cents / 100.0, 2) AS revenue,
        |  round(cents::DOUBLE / prev - 1, 6) AS mom,
        |  round(cents::DOUBLE / prev12 - 1, 6) AS yoy
        |FROM l ORDER BY month""".stripMargin,
    // The HLL estimate is Spark-side-only; the oracle pins the exact
    // rolling count and demands every within_bound arrive true (the
    // same audited-sketch contract as sketch_profile/stream_distinct).
    "rolling_hll" ->
      """WITH du AS (
        |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events
        |), days AS (SELECT DISTINCT day FROM du)
        |SELECT d.day, count(DISTINCT x.user_id) AS n_users_7d,
        |  true AS within_bound
        |FROM days d JOIN du x ON x.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day ORDER BY d.day""".stripMargin,
    "events_debounce" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
        |), l AS (
        |  SELECT *, tsu - lag(tsu) OVER (PARTITION BY user_id, event_type
        |    ORDER BY tsu, event_id) AS gap_us
        |  FROM e
        |)
        |SELECT event_id, user_id, event_type, gap_us FROM l
        |WHERE gap_us IS NOT NULL AND gap_us <= 3600000000
        |ORDER BY event_id""".stripMargin,
    // The running sum is order-deterministic (ROWS frame over a total
    // order), so both engines produce bit-identical doubles and the
    // argmax tiebreak (abs desc, hour asc) is stable.
    "events_cusum" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*)::DOUBLE AS c
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT *, avg(c) OVER (PARTITION BY event_type) AS mu,
        |    count(*) OVER (PARTITION BY event_type) AS n_hours
        |  FROM h
        |), s AS (
        |  SELECT *, sum(c - mu) OVER (PARTITION BY event_type
        |    ORDER BY hour_us ROWS UNBOUNDED PRECEDING) AS s
        |  FROM m
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(s) DESC, hour_us) AS rk
        |  FROM s
        |)
        |SELECT event_type, n_hours::BIGINT AS n_hours,
        |  round(abs(s), 6) AS cusum_max, hour_us AS peak_hour_us
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // Temporal-half split: integer midpoint (DuckDB // floors like
    // Scala div for positives), CDFs via RANGE frames (include ties).
    "drift_ks" ->
      """WITH b AS (
        |  SELECT event_type, value, epoch_us(ts) AS ts_us FROM events
        |), mid AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM b),
        |g AS (
        |  SELECT event_type, value,
        |    CASE WHEN ts_us <= (SELECT mid FROM mid) THEN 0 ELSE 1 END AS grp
        |  FROM b
        |), c AS (
        |  SELECT event_type,
        |    sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) OVER w AS ca,
        |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) OVER w AS cb,
        |    sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type) AS na,
        |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type) AS nb
        |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY value
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
        |  round(max(CASE WHEN na > 0 AND nb > 0 THEN
        |    abs(ca / na::DOUBLE - cb / nb::DOUBLE) END), 6) AS ks
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "drift_psi" ->
      """WITH b AS (
        |  SELECT event_type, value, epoch_us(ts) AS ts_us FROM events
        |), mid AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM b),
        |sided AS (
        |  SELECT event_type, value,
        |    CASE WHEN ts_us <= (SELECT mid FROM mid) THEN 0 ELSE 1 END AS side
        |  FROM b
        |), rng AS (
        |  SELECT event_type, min(value) AS mn, max(value) AS mx
        |  FROM sided GROUP BY 1
        |), binned AS (
        |  SELECT s.event_type,
        |    CASE WHEN r.mx = r.mn THEN 0
        |      ELSE least(floor((s.value - r.mn) * 10 / (r.mx - r.mn)), 9)::BIGINT
        |    END AS bin,
        |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cnt_a,
        |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cnt_b
        |  FROM sided s JOIN rng r USING (event_type) GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, sum(cnt_a) AS n_a, sum(cnt_b) AS n_b
        |  FROM binned GROUP BY 1
        |), grid AS (
        |  SELECT event_type, n_a, n_b, unnest(range(0, 10)) AS bin FROM tot
        |), sm AS (
        |  SELECT g.event_type,
        |    (coalesce(b2.cnt_a, 0) + 0.5) / (g.n_a + 5.0) AS pa,
        |    (coalesce(b2.cnt_b, 0) + 0.5) / (g.n_b + 5.0) AS pb
        |  FROM grid g LEFT JOIN binned b2
        |    ON b2.event_type = g.event_type AND b2.bin = g.bin
        |)
        |SELECT event_type, round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
        |FROM sm GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lang_entropy" ->
      """WITH lt AS (
        |  SELECT lang, tok, count(*) AS c FROM (
        |    SELECT lang, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |    FROM documents
        |  ) GROUP BY 1, 2
        |), pl AS (SELECT lang, sum(c) AS n FROM lt GROUP BY 1),
        |co AS (SELECT tok, sum(c) AS cc FROM lt GROUP BY 1),
        |tt AS (SELECT sum(cc) AS tot FROM co)
        |SELECT lt.lang, max(pl.n)::BIGINT AS n_tokens,
        |  round(-sum((lt.c::DOUBLE / pl.n) * ln(lt.c::DOUBLE / pl.n)), 6) AS entropy,
        |  round(sum((lt.c::DOUBLE / pl.n)
        |    * ln((lt.c::DOUBLE / pl.n) / (co.cc::DOUBLE / (SELECT tot FROM tt)))), 6) AS kl
        |FROM lt JOIN pl USING (lang) JOIN co USING (tok)
        |GROUP BY lt.lang ORDER BY lt.lang""".stripMargin,
    "user_overlap" ->
      """WITH ui AS (
        |  SELECT DISTINCT o_custkey AS entity, l_partkey AS item
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), cold AS (
        |  SELECT item FROM ui GROUP BY item HAVING count(*) <= 20
        |), kept AS (SELECT ui.entity, ui.item FROM ui JOIN cold USING (item)),
        |sizes AS (SELECT entity, count(*) AS sz FROM kept GROUP BY 1)
        |SELECT a.entity AS entity_a, b.entity AS entity_b,
        |  count(*) AS shared,
        |  round(count(*)::DOUBLE / (max(sa.sz) + max(sb.sz) - count(*)), 6) AS jaccard
        |FROM kept a JOIN kept b ON a.item = b.item AND a.entity < b.entity
        |JOIN sizes sa ON sa.entity = a.entity
        |JOIN sizes sb ON sb.entity = b.entity
        |GROUP BY a.entity, b.entity
        |HAVING count(*) >= 2
        |ORDER BY entity_a, entity_b""".stripMargin,
    // Session CTEs mirror the `sessionize` oracle; first/last touch via
    // first_value/lag over the same total session order.
    // Second digit of the exact cents; marginal P(d2) as nine ln-ratio
    // terms; per-digit chi-square chains mirrored.
    "benford_digit2" ->
      """WITH cents AS (
        |  SELECT CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders
        |), d AS (
        |  SELECT CAST(substr(c::VARCHAR, 2, 1) AS BIGINT) AS digit
        |  FROM cents WHERE c >= 10
        |), counts AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS tot FROM counts),
        |m AS (
        |  SELECT digit, n, tot, CAST(n AS DOUBLE)/tot AS share,
        |    ln(1.0 + 1.0/(10 + digit))/ln(10.0) + ln(1.0 + 1.0/(20 + digit))/ln(10.0) + ln(1.0 + 1.0/(30 + digit))/ln(10.0) + ln(1.0 + 1.0/(40 + digit))/ln(10.0) + ln(1.0 + 1.0/(50 + digit))/ln(10.0) + ln(1.0 + 1.0/(60 + digit))/ln(10.0) + ln(1.0 + 1.0/(70 + digit))/ln(10.0) + ln(1.0 + 1.0/(80 + digit))/ln(10.0) + ln(1.0 + 1.0/(90 + digit))/ln(10.0) AS benford_p
        |  FROM counts CROSS JOIN tot
        |)
        |SELECT digit, n, round(share, 6) AS share,
        |  round(benford_p, 6) AS benford_p,
        |  round((share - benford_p)*(share - benford_p)/benford_p*tot, 6) AS chi2_term
        |FROM m ORDER BY digit""".stripMargin,
    // Same gap sessions; exact entry/bounce tallies, one division.
    "session_bounce" ->
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
        |), g AS (
        |  SELECT user_id, session_idx,
        |    first_value(event_type) OVER (PARTITION BY user_id, session_idx
        |      ORDER BY tsu, event_id) AS entry
        |  FROM s
        |), agg AS (
        |  SELECT user_id, session_idx, entry, count(*)::BIGINT AS n_events
        |  FROM g GROUP BY 1, 2, 3
        |)
        |SELECT entry AS entry_channel, count(*)::BIGINT AS n_sessions,
        |  sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
        |  round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    /count(*), 6) AS bounce_rate
        |FROM agg GROUP BY 1 ORDER BY entry_channel""".stripMargin,
    // Same session assignment and strictly-before path walk; credits
    // are exact basis points with the remainder pinned to the first
    // touch, so each conversion sums to exactly 10000.
    "attribution_position" ->
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
        |), conv AS (
        |  SELECT user_id, session_idx, tsu AS ctsu, event_id AS cid
        |  FROM s WHERE event_type = 'purchase'
        |), touches AS (
        |  SELECT c.user_id, c.session_idx, c.cid, x.tsu, x.event_id, x.event_type
        |  FROM conv c JOIN s x ON c.user_id = x.user_id
        |    AND c.session_idx = x.session_idx
        |  WHERE x.tsu < c.ctsu OR (x.tsu = c.ctsu AND x.event_id < c.cid)
        |), rk AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id, session_idx, cid
        |      ORDER BY tsu, event_id) AS rk,
        |    count(*) OVER (PARTITION BY user_id, session_idx, cid) AS m
        |  FROM touches
        |), credited AS (
        |  SELECT event_type AS channel,
        |    CASE WHEN m = 1 THEN 10000
        |      WHEN rk = 1 AND m = 2 THEN 5000
        |      WHEN rk = m AND m = 2 THEN 5000
        |      WHEN rk = 1 THEN 4000 + 2000 % (m - 2)
        |      WHEN rk = m THEN 4000
        |      ELSE 2000 // (m - 2) END::BIGINT AS bp
        |  FROM rk
        |), direct AS (
        |  SELECT 'direct' AS channel, 10000::BIGINT AS bp
        |  FROM conv c WHERE NOT EXISTS (
        |    SELECT 1 FROM s x WHERE x.user_id = c.user_id
        |      AND x.session_idx = c.session_idx
        |      AND (x.tsu < c.ctsu OR (x.tsu = c.ctsu AND x.event_id < c.cid)))
        |), allc AS (
        |  SELECT * FROM credited UNION ALL SELECT * FROM direct
        |)
        |SELECT channel, count(*)::BIGINT AS n_credits, sum(bp)::BIGINT AS bp_total,
        |  round(sum(bp)/10000.0::DOUBLE, 6) AS conversions_credited
        |FROM allc GROUP BY 1 ORDER BY channel""".stripMargin,
    "attribution" ->
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
        |), t AS (
        |  SELECT event_type,
        |    first_value(event_type) OVER w2 AS first_touch,
        |    coalesce(lag(event_type) OVER w2, 'direct') AS last_touch
        |  FROM s WINDOW w2 AS (PARTITION BY user_id, session_idx
        |    ORDER BY tsu, event_id)
        |)
        |SELECT first_touch, last_touch, count(*) AS n_conversions
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY first_touch, last_touch""".stripMargin,
    "rolling_distinct" ->
      """WITH du AS (
        |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events
        |), days AS (SELECT DISTINCT day FROM du)
        |SELECT d.day, count(DISTINCT x.user_id) AS n_users_7d
        |FROM days d JOIN du x ON x.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day ORDER BY d.day""".stripMargin,
    "events_acf" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*)::DOUBLE AS n
        |  FROM events GROUP BY 1, 2
        |), l AS (
        |  SELECT event_type, n,
        |    lag(n, 1) OVER w AS n1,
        |    lag(n, 2) OVER w AS n2,
        |    lag(n, 3) OVER w AS n3
        |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_us)
        |)
        |SELECT event_type, count(*) AS n_hours,
        |  round(corr(n, n1), 6) AS acf1,
        |  round(corr(n, n2), 6) AS acf2,
        |  round(corr(n, n3), 6) AS acf3
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_markov" ->
      """WITH s AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events
        |), c AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |  round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "sample_weighted" ->
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |    -ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 1)
        |        / 1152921504606846976.0) / n_chars AS key
        |  FROM documents
        |)
        |SELECT doc_id, n_chars, round(key, 9) AS sample_key
        |FROM k ORDER BY key LIMIT 500""".stripMargin,
    "agg_skew_salted" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "text_normalize" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' A' || chr(778) AS probe
        |  FROM documents
        |)
        |SELECT doc_id, length(probe) AS len_raw,
        |  length(nfc_normalize(probe)) AS len_norm,
        |  md5(nfc_normalize(probe)) AS norm_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    "events_moving_avg" ->
      """SELECT event_id, event_type, epoch_us(ts) AS tsu,
        |  count(*) OVER w AS n_1h,
        |  round(avg(value) OVER w, 6) AS avg_1h
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "events_json" ->
      """SELECT event_type, count(*) AS n,
        |  sum((props->>'k')::BIGINT)::BIGINT AS sum_k,
        |  round(avg((props->>'k')::BIGINT), 6) AS avg_k,
        |  min((props->>'k')::BIGINT) AS min_k,
        |  max((props->>'k')::BIGINT) AS max_k
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "events_corr" ->
      """SELECT event_type, count(*) AS n,
        |  round(corr(value, tod_h), 6) AS corr_vt,
        |  round(covar_samp(value, tod_h), 6) AS covar_vt,
        |  round(stddev_samp(value), 6) AS sd_value
        |FROM (SELECT event_type, value,
        |        (epoch_us(ts) % 86400000000) / 3600000000.0 AS tod_h
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "corpus_powerlaw" ->
      """WITH a AS (
        |  SELECT count(*) AS n_used, sum(ln(n_chars / 100.0)) AS s
        |  FROM documents WHERE n_chars >= 100
        |)
        |SELECT n_used, round(1.0 + n_used / s, 6) AS alpha_hat FROM a""".stripMargin,
    "events_anomaly" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
        |  FROM h GROUP BY 1
        |)
        |SELECT h.event_type, h.hour_us, h.n,
        |  round(CASE WHEN sd > 0 THEN (n - mu) / sd END, 6) AS z,
        |  CASE WHEN sd > 0 THEN abs((n - mu) / sd) > 3 END AS is_anomaly
        |FROM h JOIN st USING (event_type)
        |ORDER BY event_type, hour_us""".stripMargin,
    "dedup_rate_source" ->
      """WITH planted AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, text FROM documents
        |  WHERE doc_id % 50 = 0
        |), fp AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM planted
        |), d AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 1),
        |t AS (SELECT source, count(*) AS n_docs FROM fp GROUP BY 1),
        |u AS (SELECT source, count(*) AS n_dup FROM fp JOIN d USING (fp) GROUP BY 1)
        |SELECT source, n_docs, coalesce(n_dup, 0)::BIGINT AS n_dup,
        |  round(coalesce(n_dup, 0) / n_docs, 6) AS dup_rate
        |FROM t LEFT JOIN u USING (source) ORDER BY source""".stripMargin,
    "table_checksum" ->
      """WITH h AS (
        |  SELECT lang, ('0x' || substr(md5(concat_ws('|',
        |    coalesce(doc_id::VARCHAR, '\N'), coalesce(text, '\N'),
        |    coalesce(lang, '\N'), coalesce(source, '\N'),
        |    coalesce(n_chars::VARCHAR, '\N'))), 1, 15))::BIGINT AS hv
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_rows, bit_xor(hv) AS checksum
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    "agg_incremental" ->
      """SELECT event_type, count(*) AS n_events,
        |  round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "zorder_cells" -> {
      val morton = (0 until 8).map(i =>
        s"(((xcell >> $i) & 1) << ${2 * i}) | (((ycell >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH b AS (
         |  SELECT min(value) AS xlo, max(value) AS xhi,
         |         min(user_id) AS ylo, max(user_id) AS yhi FROM events
         |), c AS (
         |  SELECT event_id,
         |    (CASE WHEN xhi = xlo THEN 0
         |          ELSE least(floor((value - xlo) * 256 / (xhi - xlo)), 255)
         |     END)::BIGINT AS xcell,
         |    (CASE WHEN yhi = ylo THEN 0
         |          ELSE least(floor((user_id - ylo) * 256 / (yhi - ylo)), 255)
         |     END)::BIGINT AS ycell
         |  FROM events, b
         |)
         |SELECT event_id, xcell, ycell, ($morton)::BIGINT AS zval
         |FROM c ORDER BY event_id""".stripMargin
    },
    // Exact-integer 2x2 presence contingency per (token, lang); the
    // chi2 double derives with the identical op sequence, then
    // round-then-rank picks the top 5 per language.
    "token_chi2" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, lang AS label, t.tok
        |  FROM documents,
        |    LATERAL unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t(tok)
        |), pl AS (
        |  SELECT tok, label, count(*)::BIGINT AS a FROM toks GROUP BY 1, 2
        |), dt AS (
        |  SELECT tok, sum(a)::BIGINT AS df_tok FROM pl GROUP BY 1
        |  HAVING sum(a) >= 5
        |), ls AS (
        |  SELECT lang AS label, count(*)::BIGINT AS n_label FROM documents
        |  GROUP BY 1
        |), nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |cells AS (
        |  SELECT pl.label, pl.tok, pl.a, dt.df_tok,
        |    round(n_docs::DOUBLE
        |      * ((pl.a * (n_docs - ls.n_label - (dt.df_tok - pl.a))
        |          - (ls.n_label - pl.a) * (dt.df_tok - pl.a)))::DOUBLE
        |      * ((pl.a * (n_docs - ls.n_label - (dt.df_tok - pl.a))
        |          - (ls.n_label - pl.a) * (dt.df_tok - pl.a)))::DOUBLE
        |      / (ls.n_label::DOUBLE * (n_docs - ls.n_label)
        |         * dt.df_tok * (n_docs - dt.df_tok)), 6) AS chi2
        |  FROM pl JOIN dt USING (tok) JOIN ls USING (label) CROSS JOIN nd
        |)
        |SELECT label, tok, a, df_tok, chi2 FROM (
        |  SELECT cells.*, row_number() OVER (
        |    PARTITION BY label ORDER BY chi2 DESC, tok) AS rk
        |  FROM cells) WHERE rk <= 5
        |ORDER BY label, chi2 DESC, tok""".stripMargin,
    "token_pmi" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
        |  FROM documents
        |), n AS (SELECT count(*) AS nd FROM documents),
        |f AS (SELECT t, count(*) AS dfc FROM dt GROUP BY 1),
        |p AS (
        |  SELECT a.t AS tok_a, b.t AS tok_b, count(*) AS n_ab
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.t < b.t
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |)
        |SELECT tok_a, tok_b, n_ab,
        |  round(ln(n_ab * nd / (da.dfc * db.dfc)), 6) AS pmi
        |FROM p JOIN f da ON p.tok_a = da.t JOIN f db ON p.tok_b = db.t, n
        |ORDER BY tok_a, tok_b""".stripMargin,
    "quality_calibrate" ->
      """WITH q AS (
        |  SELECT doc_id, lang, round((
        |      least(greatest(length(text),1) / 200.0, 1.0)
        |    + greatest(1.0 - 4.0 * len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
        |          / greatest(length(text),1), 0.0)
        |    + least(5.0 * len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that|for)\b'))
        |          / greatest(len(regexp_extract_all(text, '\S+')),1), 1.0)
        |    ) / 3.0, 6) AS quality_score
        |  FROM documents
        |)
        |SELECT doc_id, lang, quality_score,
        |  round(percent_rank() OVER (PARTITION BY lang
        |    ORDER BY quality_score, doc_id), 6) AS q_pr
        |FROM q ORDER BY doc_id""".stripMargin,
    "corpus_ccnet" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, count(*) AS n FROM toks GROUP BY token
        |), t AS (SELECT sum(n) AS total FROM c),
        |v AS (SELECT token, ln(n / total) AS logp FROM c, t WHERE n >= 5),
        |s AS (
        |  SELECT d.doc_id, d.lang,
        |    round(avg(CASE WHEN tk.token IS NULL THEN NULL
        |      ELSE coalesce(v.logp, (SELECT ln(1.0 / total) FROM t)) END), 6)
        |      AS logp_mean
        |  FROM documents d
        |  LEFT JOIN toks tk ON d.doc_id = tk.doc_id
        |  LEFT JOIN v ON tk.token = v.token
        |  GROUP BY d.doc_id, d.lang
        |), b AS (
        |  SELECT doc_id, lang, logp_mean,
        |    ntile(3) OVER (PARTITION BY lang
        |      ORDER BY logp_mean DESC NULLS LAST, doc_id) AS bucket
        |  FROM s
        |)
        |SELECT doc_id, lang, logp_mean,
        |  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS ppl_band,
        |  (bucket < 3) AS kept
        |FROM b ORDER BY doc_id""".stripMargin,
    // Both constituent rankings replicate their own (hash-proven)
    // oracles verbatim — bm25ScoredSql's CTEs feed the bm25 list, the
    // tfidf CTEs are re-derived from the shared tf/dft, and the fusion
    // is pure rank arithmetic.
    "search_rrf" -> (searchListsSql + """
      |SELECT doc_id,
      |  round(coalesce(1.0 / (60 + rk_bm), 0) + coalesce(1.0 / (60 + rk_tf), 0), 6)
      |    AS rrf,
      |  ((rk_bm IS NOT NULL)::INT + (rk_tf IS NOT NULL)::INT)::BIGINT AS n_lists
      |FROM bml FULL OUTER JOIN tfl USING (doc_id)
      |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    // Same two ranked lists as search_rrf; the pairwise Σ p^(d-1)/d
    // reformulation replaces per-depth set intersections.
    // Same exact integer cut ranks off the (cents, custkey) order; the
    // ratio divides exact tail sums once at display.
    "palma_ratio" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice*100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1
        |), rk AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS rk,
        |    sum(cents) OVER (ORDER BY cents, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM spend
        |), tot AS (SELECT sum(cents)::BIGINT AS tot, count(*)::BIGINT AS n FROM spend),
        |marks AS (
        |  SELECT n, tot,
        |    max(CASE WHEN rk = (4*n) // 10 THEN cum END)::BIGINT AS b40,
        |    max(CASE WHEN rk = n - (n // 10) THEN tot - cum END)::BIGINT AS top10
        |  FROM rk CROSS JOIN tot
        |  WHERE rk = (4*n) // 10 OR rk = n - (n // 10)
        |  GROUP BY n, tot
        |)
        |SELECT n AS n_customers, tot AS total_cents, b40 AS bottom40_cents,
        |  top10 AS top10_cents,
        |  round(CAST(top10 AS DOUBLE)/b40, 6) AS palma,
        |  round(CAST(top10 AS DOUBLE)/tot, 6) AS top10_share,
        |  round(CAST(b40 AS DOUBLE)/tot, 6) AS bottom40_share
        |FROM marks""".stripMargin,
    // Same canonical sorted-token key and min-id keeper election.
    "dedup_bag" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    array_to_string(list_reverse(regexp_extract_all(lower(text), '[a-z]+')), ' ')
        |  FROM documents
        |), bags AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(regexp_extract_all(lower(text), '[a-z]+')), ' ')) AS bag_md5
        |  FROM corpus
        |)
        |SELECT min(doc_id) AS keeper, count(*)::BIGINT AS n_docs, bag_md5
        |FROM bags GROUP BY bag_md5 HAVING count(*) >= 2
        |ORDER BY keeper""".stripMargin,
    // Exact cf/df tallies; round-then-rank with the term tie-break.
    "term_burstiness" ->
      """WITH occ AS (
        |  SELECT term, doc_id, count(*)::BIGINT AS c FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |    FROM documents) GROUP BY 1, 2
        |), t AS (
        |  SELECT term, count(*)::BIGINT AS df, sum(c)::BIGINT AS cf
        |  FROM occ GROUP BY 1 HAVING count(*) >= 20
        |)
        |SELECT term, df, cf, round(CAST(cf AS DOUBLE)/df, 6) AS burstiness
        |FROM t ORDER BY burstiness DESC, term LIMIT 20""".stripMargin,
    // Pure integer order statistic: rank ceil(0.8W) shifted past the
    // implicit zero-demand block, (demand, week) election.
    "newsvendor_stock" ->
      """WITH weekly AS (
        |  SELECT l_partkey, datediff('day', DATE '1970-01-01', l_shipdate) // 7 AS wk,
        |    sum(CAST(l_quantity AS BIGINT))::BIGINT AS d
        |  FROM lineitem GROUP BY 1, 2
        |), h AS (SELECT count(DISTINCT wk)::BIGINT AS w FROM weekly),
        |ranked AS (
        |  SELECT l_partkey, d,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY d, wk) AS rn
        |  FROM weekly
        |), sizes AS (
        |  SELECT l_partkey, count(*)::BIGINT AS n_active FROM weekly GROUP BY 1
        |)
        |SELECT r.l_partkey, s.n_active AS n_active_weeks, h.w AS n_weeks,
        |  coalesce(max(CASE WHEN r.rn = (4*h.w + 4) // 5 - (h.w - s.n_active)
        |    THEN r.d END), 0)::BIGINT AS stock_qty
        |FROM ranked r JOIN sizes s ON r.l_partkey = s.l_partkey CROSS JOIN h
        |GROUP BY r.l_partkey, s.n_active, h.w
        |ORDER BY r.l_partkey""".stripMargin,
    // Exact frequency-of-frequencies tallies; two display divisions.
    "vocab_chao1" ->
      """WITH freq AS (
        |  SELECT tok, count(*)::BIGINT AS n FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |    FROM documents) GROUP BY 1
        |), g AS (
        |  SELECT count(*)::BIGINT AS v_obs, sum(n)::BIGINT AS n_tokens,
        |    sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
        |    sum(CASE WHEN n = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
        |  FROM freq
        |)
        |SELECT v_obs, n_tokens, f1, f2,
        |  round(v_obs + CAST(f1 AS DOUBLE)*(f1 - 1)/(2*(f2 + 1)), 6) AS chao1,
        |  round(CAST(f1 AS DOUBLE)/n_tokens, 6) AS p_unseen
        |FROM g""".stripMargin,
    // Exact integer pair/unigram counts; round-then-rank with the
    // (wa, wb) tie-break pins the top-20 across engines.
    "token_dice" ->
      """WITH tk AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents
        |), bg AS (
        |  SELECT t[i] AS wa, t[i+1] AS wb
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk WHERE len(t) >= 2)
        |), cb AS (
        |  SELECT wa, wb, count(*)::BIGINT AS c_ab FROM bg GROUP BY 1, 2
        |  HAVING count(*) >= 5
        |), uni AS (
        |  SELECT tok, count(*)::BIGINT AS c FROM (
        |    SELECT unnest(t) AS tok FROM tk) GROUP BY 1
        |)
        |SELECT wa, wb, c_ab, ua.c AS c_a, ub.c AS c_b,
        |  round(CAST(2*c_ab AS DOUBLE)/(ua.c + ub.c), 6) AS dice
        |FROM cb JOIN uni ua ON cb.wa = ua.tok JOIN uni ub ON cb.wb = ub.tok
        |ORDER BY dice DESC, wa, wb LIMIT 20""".stripMargin,
    // Exact integer concordance over the k²-bounded common-doc pairs;
    // a pairless run still yields one (null-tallies) row both sides.
    "search_tau" -> (searchListsSql + """
      |, common AS (SELECT doc_id, rk_bm, rk_tf FROM bml JOIN tfl USING (doc_id)),
      |pairs AS (
      |  SELECT (a.rk_bm - b.rk_bm)*(a.rk_tf - b.rk_tf) AS sgn
      |  FROM common a JOIN common b ON a.doc_id < b.doc_id
      |), pa AS (
      |  SELECT sum(CASE WHEN sgn > 0 THEN 1 ELSE 0 END)::BIGINT AS concordant,
      |    sum(CASE WHEN sgn < 0 THEN 1 ELSE 0 END)::BIGINT AS discordant
      |  FROM pairs
      |), m AS (SELECT count(*)::BIGINT AS n_common FROM common)
      |SELECT n_common, concordant, discordant,
      |  CASE WHEN n_common > 1 THEN
      |    round(CAST(2*(concordant - discordant) AS DOUBLE)
      |      /(n_common*(n_common - 1)), 6) END AS tau
      |FROM pa CROSS JOIN m""".stripMargin),
    // Continue-products as exact integers 5^b·7^c·8^d from pinned power
    // tables; per-rank terms nano-round before the sum.
    "eval_err" -> (searchListsSql + """
      |, lst AS (
      |  SELECT b.doc_id, b.rk_bm AS r, least(3, d.n_chars // 150) AS g
      |  FROM bml b JOIN documents d USING (doc_id)
      |), graded AS (
      |  SELECT r,
      |    CAST(CASE g WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END AS BIGINT) AS num,
      |    8 - CAST(CASE g WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END AS BIGINT) AS f
      |  FROM lst
      |), cw AS (
      |  SELECT r, num,
      |    coalesce(sum(CASE WHEN f = 5 THEN 1 ELSE 0 END) OVER wp, 0) AS cb,
      |    coalesce(sum(CASE WHEN f = 7 THEN 1 ELSE 0 END) OVER wp, 0) AS cc,
      |    coalesce(sum(CASE WHEN f = 8 THEN 1 ELSE 0 END) OVER wp, 0) AS cd
      |  FROM graded
      |  WINDOW wp AS (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |), terms AS (
      |  SELECT r, num,
      |    CAST(CASE cb WHEN 0 THEN 1 WHEN 1 THEN 5 WHEN 2 THEN 25 WHEN 3 THEN 125 WHEN 4 THEN 625 WHEN 5 THEN 3125 WHEN 6 THEN 15625 WHEN 7 THEN 78125 WHEN 8 THEN 390625 ELSE 1953125 END AS BIGINT)
      |    * (CASE cc WHEN 0 THEN 1 WHEN 1 THEN 7 WHEN 2 THEN 49 WHEN 3 THEN 343 WHEN 4 THEN 2401 WHEN 5 THEN 16807 WHEN 6 THEN 117649 WHEN 7 THEN 823543 WHEN 8 THEN 5764801 ELSE 40353607 END)
      |    * (CASE cd WHEN 0 THEN 1 WHEN 1 THEN 8 WHEN 2 THEN 64 WHEN 3 THEN 512 WHEN 4 THEN 4096 WHEN 5 THEN 32768 WHEN 6 THEN 262144 WHEN 7 THEN 2097152 WHEN 8 THEN 16777216 ELSE 134217728 END) AS pnum
      |  FROM cw
      |)
      |SELECT count(*)::BIGINT AS n_results, sum(num)::BIGINT AS sum_gain,
      |  round(sum(CAST(round(CAST(num*pnum AS DOUBLE)
      |    /(CAST(CASE r WHEN 1 THEN 8 WHEN 2 THEN 64 WHEN 3 THEN 512 WHEN 4 THEN 4096 WHEN 5 THEN 32768 WHEN 6 THEN 262144 WHEN 7 THEN 2097152 WHEN 8 THEN 16777216 WHEN 9 THEN 134217728 ELSE 1073741824 END AS DOUBLE)*r)*1e9) AS BIGINT))/1e9, 6) AS err
      |FROM terms""".stripMargin),
    "search_rbo" -> (searchListsSql + """
      |, pairs AS (
      |  SELECT doc_id, greatest(rk_bm, rk_tf) AS m
      |  FROM bml JOIN tfl USING (doc_id)
      |), contrib AS (
      |  SELECT doc_id, d, 0.1 * pow(0.9, d - 1) / d AS wt
      |  FROM pairs JOIN (SELECT unnest(generate_series(1, 10))::BIGINT AS d) ds
      |    ON d >= m
      |)
      |SELECT count(DISTINCT doc_id) AS n_overlap10, round(sum(wt), 6) AS rbo
      |FROM contrib""".stripMargin),
    "tfidf_search" ->
      """WITH tf AS (
        |  SELECT doc_id, lower(tok) AS term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS tok
        |    FROM documents
        |  ) GROUP BY 1, 2
        |), dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (
        |  SELECT tf.doc_id, tf.term, tf.tf * ln(n_docs / df) AS w
        |  FROM tf JOIN dft USING (term), n
        |),
        |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY 1),
        |qw AS (
        |  SELECT term, ln(n_docs / df) AS qw FROM dft, n
        |  WHERE term IN ('vector', 'key', 'dup') AND ln(n_docs / df) > 0
        |),
        |qn AS (SELECT sqrt(sum(qw * qw)) AS qnorm FROM qw)
        |SELECT w.doc_id,
        |  round(sum(w.w * qw.qw) / (norms.norm * qn.qnorm), 6) AS score,
        |  count(*)::BIGINT AS n_terms_hit
        |FROM w JOIN qw USING (term) JOIN norms USING (doc_id), qn
        |GROUP BY w.doc_id, norms.norm, qn.qnorm
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // Per-term Dirichlet log values ride as integer nano-units
    // round-then-summed; the ranking key is that exact integer.
    "ql_search" ->
      """WITH toks AS (
        |  SELECT doc_id, lower(tok) AS term FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS tok
        |    FROM documents)
        |), tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
        |    WHERE term IN ('vector', 'key', 'dup') GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
        |ctot AS (SELECT count(*)::BIGINT AS ctot FROM toks),
        |cf AS (SELECT term, count(*)::BIGINT AS cf FROM toks
        |    WHERE term IN ('vector', 'key', 'dup') GROUP BY 1),
        |grid AS (
        |  SELECT dl.doc_id, cf.term, cf.cf, ctot.ctot, dl.dl,
        |    coalesce(tf.tf, 0)::BIGINT AS tf
        |  FROM dl CROSS JOIN cf CROSS JOIN ctot
        |  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term
        |), sc AS (
        |  SELECT doc_id,
        |    sum(round(ln((tf + 2000.0::DOUBLE * cf / ctot)
        |      / (dl + 2000.0::DOUBLE)) * 1000000000.0::DOUBLE)::BIGINT)::BIGINT AS snano,
        |    sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::BIGINT AS n_terms_hit
        |  FROM grid GROUP BY 1)
        |SELECT doc_id, round(snano / 1000000000.0::DOUBLE, 6) AS score, n_terms_hit
        |FROM sc ORDER BY snano DESC, doc_id LIMIT 10""".stripMargin,
    // Five unrolled pico-unit PageRank steps over the word graph; all
    // CTEs MATERIALIZED (multi-referenced sweep levels would otherwise
    // re-expand exponentially under DuckDB's default inlining).
    "textrank_keywords" -> {
      val steps = (1 to 5).map { i =>
        s"""p$i AS MATERIALIZED (
           |  SELECT t AS v,
           |    round(150000000000.0::DOUBLE / n)::BIGINT + round(0.85::DOUBLE * m)::BIGINT AS pp
           |  FROM (SELECT e.t, sum(round(p${i - 1}.pp::DOUBLE / deg.d)::BIGINT)::BIGINT AS m
           |        FROM e JOIN p${i - 1} ON e.s = p${i - 1}.v JOIN deg ON e.s = deg.s
           |        GROUP BY e.t) CROSS JOIN nn)""".stripMargin
      }.mkString(",\n")
      s"""WITH tk AS MATERIALIZED (
         |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents
         |), bg AS MATERIALIZED (
         |  SELECT t[i] AS wa, t[i+1] AS wb
         |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk WHERE len(t) >= 2)
         |  WHERE t[i] <> t[i+1]
         |), pc AS MATERIALIZED (
         |  SELECT wa, wb, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2
         |  HAVING count(*) >= 2
         |), e AS MATERIALIZED (
         |  SELECT DISTINCT s, t FROM (
         |    SELECT wa AS s, wb AS t FROM pc UNION ALL SELECT wb, wa FROM pc)
         |), deg AS MATERIALIZED (SELECT s, count(*)::BIGINT AS d FROM e GROUP BY 1),
         |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM deg),
         |p0 AS MATERIALIZED (
         |  SELECT s AS v, round(1000000000000.0::DOUBLE / n)::BIGINT AS pp
         |  FROM deg CROSS JOIN nn),
         |$steps
         |SELECT v AS word, round(pp / 1000000000000.0::DOUBLE, 6) AS rank
         |FROM p5 ORDER BY pp DESC, v LIMIT 20""".stripMargin
    },
    "corpus_zipf" ->
      """WITH c AS (
        |  SELECT tok, count(*) AS n FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |    FROM documents) GROUP BY 1
        |), r AS (
        |  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM c
        |)
        |SELECT count(*) AS n_types,
        |  round(regr_slope(ln(n), ln(rk)), 6) AS slope,
        |  round(regr_intercept(ln(n), ln(rk)), 6) AS intercept,
        |  round(regr_r2(ln(n), ln(rk)), 6) AS r2
        |FROM r""".stripMargin,
    // Direct join against the patched dim — the maintenance path
    // (anti-join survivors + repaired/new facts) must agree exactly.
    "join_incremental" ->
      """SELECT CASE WHEN c_custkey % 10 = 0 THEN 'MIGRATED'
        |            ELSE c_mktsegment END AS segment,
        |  count(*) AS n_orders,
        |  round(sum(round(o_totalprice * 100, 0)::BIGINT) / 100.0, 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    // Exact mirror of the md5-bucket CM arithmetic; never_under is the
    // one-sided Cormode-Muthukrishnan guarantee as a per-row boolean.
    "cm_sketch" ->
      """WITH t AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |  FROM documents
        |), exact AS (
        |  SELECT tok, count(*) AS n_exact FROM t GROUP BY 1
        |), top AS (
        |  SELECT tok, n_exact FROM exact ORDER BY n_exact DESC, tok LIMIT 50
        |), rows_ AS (SELECT unnest(generate_series(0, 3)) AS r),
        |sk AS (
        |  SELECT rows_.r,
        |    ('0x' || substr(md5(rows_.r::VARCHAR || ':' || t.tok), 1, 15))::BIGINT
        |      % 256 AS bucket,
        |    count(*) AS cnt
        |  FROM t, rows_
        |  GROUP BY 1, 2
        |), q AS (
        |  SELECT top.tok, rows_.r,
        |    ('0x' || substr(md5(rows_.r::VARCHAR || ':' || top.tok), 1, 15))::BIGINT
        |      % 256 AS bucket
        |  FROM top, rows_
        |), est AS (
        |  SELECT q.tok, min(coalesce(sk.cnt, 0)) AS n_est
        |  FROM q LEFT JOIN sk ON sk.r = q.r AND sk.bucket = q.bucket
        |  GROUP BY 1
        |)
        |SELECT top.tok AS token, top.n_exact, est.n_est,
        |  est.n_est >= top.n_exact AS never_under
        |FROM top JOIN est ON est.tok = top.tok
        |ORDER BY n_exact DESC, token""".stripMargin,
    // Positional unnest mirror of the narrow zip_with pair generation:
    // token i pairs with i+d for d in 1..3 inside each document.
    "text_skipgram" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
        |  FROM documents
        |), p AS (
        |  SELECT t.toks[g.i] AS w, t.toks[g.i + d.d] AS c
        |  FROM t,
        |    LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) g,
        |    LATERAL (SELECT unnest(generate_series(1, 3)) AS d) d
        |  WHERE g.i + d.d <= len(t.toks)
        |)
        |SELECT w, c, count(*) AS n_pairs FROM p GROUP BY 1, 2
        |HAVING count(*) >= 5 ORDER BY w, c""".stripMargin,
    "text_charset" ->
      """WITH d AS (
        |  SELECT lang,
        |    round(len(regexp_extract_all(text, '[A-Za-z]')) / greatest(length(text), 1)::DOUBLE, 6) AS letter_r,
        |    round(len(regexp_extract_all(text, '[A-Z]')) / greatest(length(text), 1)::DOUBLE, 6) AS upper_r,
        |    round(len(regexp_extract_all(text, '[0-9]')) / greatest(length(text), 1)::DOUBLE, 6) AS digit_r,
        |    round(len(regexp_extract_all(text, '\s')) / greatest(length(text), 1)::DOUBLE, 6) AS ws_r,
        |    round(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) / greatest(length(text), 1)::DOUBLE, 6) AS punct_r,
        |    round(len(regexp_extract_all(text, '[^\x00-\x7F]')) / greatest(length(text), 1)::DOUBLE, 6) AS nonascii_r
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(letter_r), 6) AS letter_r,
        |  round(avg(upper_r), 6) AS upper_r,
        |  round(avg(digit_r), 6) AS digit_r,
        |  round(avg(ws_r), 6) AS ws_r,
        |  round(avg(punct_r), 6) AS punct_r,
        |  round(avg(nonascii_r), 6) AS nonascii_r
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "funnel_ttc" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT ev.user_id, v.t1, min(ev.us) AS t2
        |  FROM ev JOIN v USING (user_id)
        |  WHERE ev.event_type = 'click' AND ev.us > v.t1
        |    AND ev.us <= v.t1 + 3600000000
        |  GROUP BY 1, 2
        |), p AS (
        |  SELECT ev.user_id, c.t2, min(ev.us) AS t3
        |  FROM ev JOIN c USING (user_id)
        |  WHERE ev.event_type = 'purchase' AND ev.us > c.t2
        |    AND ev.us <= c.t2 + 86400000000
        |  GROUP BY 1, 2
        |)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM c) AS n_click_1h,
        |  (SELECT count(*) FROM p) AS n_purchase_24h,
        |  (SELECT round(avg(t2 - t1) / 1000000.0, 6) FROM c) AS avg_view_click_s,
        |  (SELECT round(avg(t3 - t2) / 1000000.0, 6) FROM p) AS avg_click_purchase_s""".stripMargin,
    "text_diversity" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok, count(*) AS n FROM tk GROUP BY 1, 2
        |), a AS (
        |  SELECT doc_id, sum(n)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
        |    sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS n_hapax
        |  FROM c GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(n_tokens, 0)::BIGINT AS n_tokens,
        |  coalesce(n_types, 0)::BIGINT AS n_types,
        |  round(n_types / n_tokens, 6) AS ttr,
        |  round(n_hapax / n_tokens, 6) AS hapax_ratio
        |FROM documents d LEFT JOIN a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Same [a-z]+ stream and in-document adjacency as the LM oracles;
    // exact distinct counts per source, one ratio each at display.
    "corpus_distinct_n" ->
      """WITH t AS (SELECT source,
        |    regexp_extract_all(lower(text), '[a-z]+') AS tk FROM documents),
        |uni AS (SELECT source, count(*)::BIGINT AS n_tokens,
        |    count(DISTINCT tok)::BIGINT AS v1
        |  FROM (SELECT source, unnest(tk) AS tok FROM t) GROUP BY source),
        |bi AS (SELECT source, count(*)::BIGINT AS n_bigrams,
        |    count(DISTINCT bg2)::BIGINT AS v2
        |  FROM (SELECT source, tk[i] || ' ' || tk[i+1] AS bg2
        |    FROM (SELECT source, tk, unnest(range(1, len(tk))) AS i
        |          FROM t WHERE len(tk) >= 2))
        |  GROUP BY source)
        |SELECT source, n_tokens, v1,
        |  round(v1/n_tokens::DOUBLE, 6) AS distinct_1,
        |  coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
        |  coalesce(v2, 0)::BIGINT AS v2,
        |  CASE WHEN n_bigrams > 0
        |    THEN round(v2/n_bigrams::DOUBLE, 6) END AS distinct_2
        |FROM uni LEFT JOIN bi USING (source) ORDER BY source""".stripMargin,
    "skew_profile" ->
      """WITH c AS (
        |  SELECT user_id::VARCHAR AS key, count(*) AS n FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1
        |)
        |SELECT sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
        |  (SELECT key FROM c ORDER BY n DESC, key DESC LIMIT 1) AS top_key,
        |  round(max(n) / sum(n), 6) AS top_frac,
        |  round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy_nats
        |FROM c""".stripMargin,
    "events_eqdepth" ->
      """WITH b AS (
        |  SELECT event_type, value, event_id,
        |    ntile(8) OVER (PARTITION BY event_type
        |                   ORDER BY value, event_id)::INT AS bucket
        |  FROM events
        |)
        |SELECT event_type, bucket, count(*)::BIGINT AS n,
        |  round(min(value), 6) AS lo, round(max(value), 6) AS hi
        |FROM b GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin,
    "robust_scale" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1
        |), d AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med
        |  FROM events e JOIN m USING (event_type)
        |), a AS (
        |  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM d GROUP BY 1
        |)
        |SELECT d.event_id, d.event_type,
        |  round(CASE WHEN a.mad > 0
        |    THEN (d.value - d.med) / (a.mad * 1.4826) END, 6) AS value_r
        |FROM d JOIN a USING (event_type)
        |ORDER BY d.event_id""".stripMargin,
    "bpe_pairs" ->
      """WITH w AS (
        |  SELECT word, count(*) AS wfreq FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |    FROM documents
        |  ) GROUP BY word
        |), p AS (
        |  SELECT word, wfreq,
        |    unnest(generate_series(1, length(word))) AS p FROM w
        |)
        |SELECT substr(word, p, 1) AS sym_a,
        |  CASE WHEN p < length(word) THEN substr(word, p + 1, 1)
        |       ELSE '</w>' END AS sym_b,
        |  sum(wfreq)::BIGINT AS freq
        |FROM p GROUP BY 1, 2
        |ORDER BY freq DESC, sym_a, sym_b LIMIT 200""".stripMargin,
    // String n-grams on the oracle side vs xxhash64 on the Spark side —
    // only counts surface (novelty-profile convention).
    "text_ngram_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents
        |), bic AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |    FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks
        |          WHERE len(t) >= 2)
        |  ) GROUP BY doc_id, g
        |), bip AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c) AS top_c
        |  FROM bic GROUP BY doc_id
        |), tric AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks
        |          WHERE len(t) >= 3)
        |  ) GROUP BY doc_id, g
        |), trip AS (
        |  SELECT doc_id, sum(c) AS n_trigrams,
        |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_c
        |  FROM tric GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
        |  round(top_c / n_bigrams, 6) AS top_bigram_frac,
        |  round(dup_c / n_trigrams, 6) AS dup_trigram_frac
        |FROM documents d
        |LEFT JOIN bip USING (doc_id) LEFT JOIN trip USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "zscore_events" ->
      """WITH st AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_id, e.event_type,
        |  round(CASE WHEN sd > 0 THEN (value - mu) / sd END, 6) AS value_z
        |FROM events e JOIN st USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "winsorize_events" ->
      """WITH q AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_id, e.event_type,
        |  round(least(greatest(value, lo), hi), 6) AS value_w
        |FROM events e JOIN q USING (event_type)
        |ORDER BY event_id""".stripMargin,
    // String shingles on the oracle side vs 64-bit hashes on the Spark
    // side: only membership/counts surface, so the mirror is exact
    // (same convention as corpus_clean/decontam_scan).
    "text_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[j:j+4], ' ') AS s
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS j FROM toks
        |        WHERE len(t) >= 5)
        |), dfh AS (SELECT s, count(*) AS c FROM sh GROUP BY s
        |), prof AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_shingles,
        |    sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
        |  FROM sh JOIN dfh USING (s) GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(n_shingles, 0) AS n_shingles,
        |  coalesce(n_shared, 0) AS n_shared,
        |  round(1.0 - n_shared / n_shingles, 6) AS novelty
        |FROM documents d LEFT JOIN prof USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "inverted_index" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents
        |)
        |SELECT token, count(*) AS doc_freq,
        |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        |FROM toks GROUP BY token
        |ORDER BY token""".stripMargin,
    "upsert_latest" ->
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
        |  round(value, 6) AS value
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "lm_bigram_vocab" ->
      """WITH toks AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents
        |), bi AS (
        |  SELECT t[i] AS token_a, t[i+1] AS token_b
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)
        |), c AS (
        |  SELECT token_a, token_b, count(*) AS n FROM bi GROUP BY token_a, token_b
        |), la AS (SELECT token_a, sum(n) AS na FROM c GROUP BY token_a)
        |SELECT token_a, token_b, n, round(ln(n / na), 6) AS logp
        |FROM c JOIN la USING (token_a) WHERE n >= 3
        |ORDER BY n DESC, token_a, token_b LIMIT 100""".stripMargin,
    "lm_bigram_score" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents
        |), bi AS (
        |  SELECT doc_id, t[i] AS a, t[i+1] AS b
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks
        |        WHERE len(t) >= 2)
        |), c AS (SELECT a, b, count(*) AS n FROM bi GROUP BY a, b),
        |la AS (SELECT a, sum(n) AS na FROM c GROUP BY a),
        |v AS (SELECT a, b, ln(n / na) AS logp FROM c JOIN la USING (a) WHERE n >= 3),
        |uc AS (
        |  SELECT token, count(*) AS n
        |  FROM (SELECT unnest(t) AS token FROM toks) GROUP BY token
        |), ut AS (SELECT sum(n) AS total FROM uc),
        |uv AS (SELECT token, ln(n / total) AS logp FROM uc, ut WHERE n >= 5)
        |SELECT d.doc_id, count(bi.a)::BIGINT AS n_bigrams,
        |  round(avg(CASE WHEN bi.a IS NULL THEN NULL
        |    ELSE coalesce(v.logp, ln(0.4) +
        |      coalesce(uv.logp, (SELECT ln(1.0 / total) FROM ut))) END), 6)
        |    AS logp_mean
        |FROM documents d
        |LEFT JOIN bi ON d.doc_id = bi.doc_id
        |LEFT JOIN v ON bi.a = v.a AND bi.b = v.b
        |LEFT JOIN uv ON bi.b = uv.token
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    "decontam_semantic" ->
      """WITH ev AS (
        |  SELECT list_concat(embedding[1:56]::DOUBLE[],
        |    [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 25 = 0
        |), e AS (
        |  SELECT v, sqrt(list_inner_product(v, v)) AS nrm FROM ev
        |  WHERE list_inner_product(v, v) > 0
        |), c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings
        |  WHERE list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
        |)
        |SELECT c.vec_id, count(*) AS n_hits,
        |  round(max(list_inner_product(c.v, e.v) / (c.nrm * e.nrm)), 6) AS max_cosine
        |FROM c JOIN e ON list_inner_product(c.v, e.v) / (c.nrm * e.nrm) >= 0.7
        |GROUP BY c.vec_id ORDER BY vec_id""".stripMargin,
    "quality_band" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    round((
        |      least(greatest(length(text),1) / 200.0, 1.0)
        |    + greatest(1.0 - 4.0 * len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
        |          / greatest(length(text),1), 0.0)
        |    + least(5.0 * len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that|for)\b'))
        |          / greatest(len(regexp_extract_all(text, '\S+')),1), 1.0)
        |    ) / 3.0, 6) AS quality_score
        |  FROM documents
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY quality_score, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM scored
        |)
        |SELECT doc_id, lang, quality_score FROM ranked
        |WHERE rn * 10 > n AND rn * 10 <= 9 * n
        |ORDER BY doc_id""".stripMargin,
    "corpus_shuffle" ->
      """SELECT row_number() OVER (ORDER BY (doc_id % 1000000) * 2654435761 + 7, doc_id)::BIGINT
        |    AS position, doc_id
        |FROM documents ORDER BY position""".stripMargin,
    "chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk,
        |    len(regexp_extract_all(text, '\S+')) AS n
        |  FROM documents
        |), st AS (
        |  SELECT doc_id, tk, n, unnest(range(0, n, 48)) AS s
        |  FROM t WHERE n > 0
        |)
        |SELECT doc_id, (s // 48)::BIGINT AS chunk_idx,
        |  least(64, n - s)::BIGINT AS n_tokens,
        |  array_to_string(tk[s + 1 : s + 64], ' ') AS chunk_text
        |FROM st WHERE s = 0 OR s + 16 < n
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // Exact integer cells; z rounds to 6 before the rank.
    "vocab_drift" ->
      """WITH m AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS mid FROM documents),
        |toks AS (
        |  SELECT CASE WHEN doc_id <= mid THEN 0 ELSE 1 END AS side,
        |    t[i] || ' ' || t[i+1] AS tok
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
        |              FROM documents)
        |        WHERE len(t) >= 2) CROSS JOIN m
        |), cells AS (
        |  SELECT tok,
        |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS b
        |  FROM toks GROUP BY tok HAVING count(*) >= 5
        |), tot AS (
        |  SELECT sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS ta,
        |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS tb
        |  FROM toks
        |), scored AS (
        |  SELECT tok, a, b,
        |    ln((a + 0.5::DOUBLE) / (ta - a + 0.5::DOUBLE))
        |      - ln((b + 0.5::DOUBLE) / (tb - b + 0.5::DOUBLE)) AS lor,
        |    sqrt(1.0::DOUBLE / (a + 0.5::DOUBLE)
        |      + 1.0::DOUBLE / (ta - a + 0.5::DOUBLE)
        |      + 1.0::DOUBLE / (b + 0.5::DOUBLE)
        |      + 1.0::DOUBLE / (tb - b + 0.5::DOUBLE)) AS se
        |  FROM cells CROSS JOIN tot
        |)
        |SELECT tok, a AS n_first, b AS n_second,
        |  round(lor, 6) AS log_odds, round(lor / se, 6) AS z
        |FROM scored
        |ORDER BY abs(round(lor / se, 6)) DESC, tok LIMIT 20""".stripMargin,
    // Exact integer N_r tallies over bigram counts; r* and p0 divide
    // once at display.
    "lm_goodturing" ->
      """WITH toks AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents
        |), bi AS (
        |  SELECT t[i] || ' ' || t[i+1] AS token
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)
        |), c AS (
        |  SELECT token, count(*)::BIGINT AS c FROM bi GROUP BY token
        |), fof AS (
        |  SELECT c, count(*)::BIGINT AS n_r FROM c GROUP BY c
        |), tot AS (SELECT sum(c)::BIGINT AS n_tokens FROM c),
        |n1 AS (SELECT n_r AS nr1 FROM fof WHERE c = 1)
        |SELECT f.c AS r, f.n_r,
        |  CASE WHEN nx.n_r IS NOT NULL
        |    THEN round((f.c + 1) * nx.n_r / f.n_r, 6) END AS r_star,
        |  round(nr1 / n_tokens, 6) AS p_unseen
        |FROM fof f LEFT JOIN fof nx ON nx.c = f.c + 1
        |CROSS JOIN tot CROSS JOIN n1
        |WHERE f.c <= 10 ORDER BY r""".stripMargin,
    // Vocabulary per checkpoint via token first-occurrence ranks; the
    // log-log fit runs over integer-micro ln values (round-then-sum).
    "corpus_heaps" ->
      """WITH ranked AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) AS rk, text FROM documents
        |), toks AS (
        |  SELECT rk, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |  FROM ranked
        |), fr AS (SELECT tok, min(rk) AS fr FROM toks GROUP BY tok),
        |pd AS (SELECT rk, count(*)::BIGINT AS ntok FROM toks GROUP BY rk),
        |nd AS (SELECT count(*)::BIGINT AS nd FROM documents),
        |cps AS (
        |  SELECT k, (nd * k + 7) // 8 AS cut
        |  FROM (SELECT unnest(range(1, 9))::BIGINT AS k) CROSS JOIN nd
        |), tox AS (
        |  SELECT k, cut, sum(ntok)::BIGINT AS cum_tokens
        |  FROM pd CROSS JOIN cps WHERE rk <= cut GROUP BY k, cut
        |), voc AS (
        |  SELECT k, cut, count(*)::BIGINT AS vocab
        |  FROM fr CROSS JOIN cps WHERE fr <= cut GROUP BY k, cut
        |), pts AS (
        |  SELECT k, cut, cum_tokens, vocab,
        |    CAST(round(ln(cum_tokens) * 1000000, 0) AS BIGINT) AS xn,
        |    CAST(round(ln(vocab) * 1000000, 0) AS BIGINT) AS yn
        |  FROM tox JOIN voc USING (k, cut)
        |), fit AS (
        |  SELECT count(*)::BIGINT AS m, sum(xn)::BIGINT AS sx,
        |    sum(yn)::BIGINT AS sy, sum(xn * yn)::BIGINT AS sxy,
        |    sum(xn * xn)::BIGINT AS sxx
        |  FROM pts
        |), coefs AS (
        |  SELECT (m * sxy - sx * sy) / (m * sxx - sx * sx) AS beta,
        |    m, sx, sy FROM fit
        |), coefs2 AS (
        |  SELECT beta, exp((sy - beta * sx) / m / 1000000.0) AS k_coef FROM coefs
        |)
        |SELECT k AS checkpoint, cut AS n_docs, cum_tokens, vocab,
        |  round(beta, 6) AS beta, round(k_coef, 6) AS k_coef
        |FROM pts CROSS JOIN coefs2 ORDER BY checkpoint""".stripMargin,
    // Exact integer cents; each ln term rounds to ppb before its sum.
    "revenue_theil" ->
      """WITH c AS (
        |  SELECT o_custkey,
        |    sum(round(o_totalprice * 100, 0)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1
        |), t AS (SELECT sum(cents)::BIGINT AS s, count(*)::BIGINT AS n FROM c)
        |SELECT n AS n_customers, round(s / n / 100.0, 6) AS mean_revenue,
        |  round(sum(CAST(round((cents * n / s) * ln(cents * n / s)
        |      * 1000000000.0, 0) AS BIGINT)) / 1000000000.0 / n, 6) AS theil_t,
        |  round(-sum(CAST(round(ln(cents * n / s)
        |      * 1000000000.0, 0) AS BIGINT)) / 1000000000.0 / n, 6) AS theil_l
        |FROM c CROSS JOIN t GROUP BY n, s""".stripMargin,
    "lm_vocab" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, count(*) AS n FROM toks GROUP BY token
        |), t AS (SELECT sum(n) AS total FROM c)
        |SELECT token, n, round(ln(n / total), 6) AS logp
        |FROM c, t WHERE n >= 5
        |ORDER BY n DESC, token LIMIT 100""".stripMargin,
    // Exact integer micro gaps; one display division for the mean.
    "markov_sojourn" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    lead(event_type) OVER w AS to_type,
        |    lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |)
        |SELECT event_type AS from_type, to_type, count(*)::BIGINT AS n,
        |  round(sum(gap_us) / count(*) / 1000000.0, 6) AS mean_gap_s,
        |  round(max(gap_us) / 1000000.0, 6) AS max_gap_s
        |FROM e WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    // Same LM-score CTE as lm_score; scores round to 6 before both
    // ranks; null-score docs excluded explicitly.
    "corpus_diet" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, count(*) AS n FROM toks GROUP BY token
        |), t AS (SELECT sum(n) AS total FROM c),
        |v AS (SELECT token, ln(n / total) AS logp FROM c, t WHERE n >= 5),
        |sc AS (
        |  SELECT d.doc_id,
        |    round(avg(CASE WHEN tk.token IS NULL THEN NULL
        |      ELSE coalesce(v.logp, (SELECT ln(1.0 / total) FROM t)) END), 6)
        |      AS lp
        |  FROM documents d
        |  LEFT JOIN toks tk ON d.doc_id = tk.doc_id
        |  LEFT JOIN v ON tk.token = v.token
        |  GROUP BY d.doc_id
        |), scored AS (
        |  SELECT sc.doc_id, sc.lp, d.lang, d.source
        |  FROM sc JOIN documents d USING (doc_id) WHERE sc.lp IS NOT NULL
        |), half AS (
        |  SELECT * FROM (
        |    SELECT scored.*,
        |      row_number() OVER (PARTITION BY lang
        |        ORDER BY lp DESC, doc_id) AS rn,
        |      count(*) OVER (PARTITION BY lang) AS nl
        |    FROM scored)
        |  WHERE rn * 2 <= nl
        |)
        |SELECT doc_id, lang, source, lp AS logp_mean FROM (
        |  SELECT half.*, row_number() OVER (PARTITION BY lang, source
        |    ORDER BY lp DESC, doc_id) AS rs
        |  FROM half)
        |WHERE rs <= 15 ORDER BY doc_id""".stripMargin,
    "lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, count(*) AS n FROM toks GROUP BY token
        |), t AS (SELECT sum(n) AS total FROM c),
        |v AS (SELECT token, ln(n / total) AS logp FROM c, t WHERE n >= 5)
        |SELECT d.doc_id, count(tk.token)::BIGINT AS n_tokens,
        |  round(avg(CASE WHEN tk.token IS NULL THEN NULL
        |    ELSE coalesce(v.logp, (SELECT ln(1.0 / total) FROM t)) END), 6)
        |    AS logp_mean
        |FROM documents d
        |LEFT JOIN toks tk ON d.doc_id = tk.doc_id
        |LEFT JOIN v ON tk.token = v.token
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // The oracle is the UNSALTED join — equality proves salting is
    // correctness-neutral end-to-end, not just in the unit spec.
    "skew_join" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey, s_nationkey
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // The oracle IS the plain (un-pruned) join — Bloom prefiltering must
    // be invisible in the result.
    "bloom_join" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_7'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "domain_cap" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents) WHERE rn <= 30
        |ORDER BY source, doc_id""".stripMargin,
    "l_diversity" ->
      """SELECT c_nationkey, floor(c_acctbal / 1000)::BIGINT AS bal_band,
        |  count(*) AS n, count(DISTINCT c_mktsegment) AS l_div,
        |  count(DISTINCT c_mktsegment) < 3 AS at_risk
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, bal_band""".stripMargin,
    // Same exact-integer TVD: Σ|cnt·N − g·n_c| / (2·n_c·N) over the
    // complete class × segment grid (absent segments contribute |0−q|).
    "t_closeness" ->
      """WITH base AS (
        |  SELECT c_nationkey, floor(c_acctbal / 1000)::BIGINT AS bal_band,
        |    c_mktsegment
        |  FROM customer
        |), gseg AS (
        |  SELECT c_mktsegment, count(*)::BIGINT AS g FROM base GROUP BY 1
        |), tot AS (SELECT count(*)::BIGINT AS n_tot FROM base),
        |cls AS (
        |  SELECT c_nationkey, bal_band, count(*)::BIGINT AS n
        |  FROM base GROUP BY 1, 2
        |), obs AS (
        |  SELECT c_nationkey, bal_band, c_mktsegment, count(*)::BIGINT AS cnt
        |  FROM base GROUP BY 1, 2, 3
        |), grid AS (
        |  SELECT cls.c_nationkey, cls.bal_band, cls.n, gseg.g,
        |    coalesce(obs.cnt, 0) AS cnt, tot.n_tot
        |  FROM cls CROSS JOIN gseg CROSS JOIN tot
        |  LEFT JOIN obs ON obs.c_nationkey = cls.c_nationkey
        |    AND obs.bal_band = cls.bal_band
        |    AND obs.c_mktsegment = gseg.c_mktsegment
        |)
        |SELECT c_nationkey, bal_band, max(n) AS n,
        |  round(sum(abs(cnt * n_tot - g * n))::DOUBLE
        |    / (2.0 * max(n) * max(n_tot)), 6) AS t_close,
        |  round(sum(abs(cnt * n_tot - g * n))::DOUBLE
        |    / (2.0 * max(n) * max(n_tot)), 6) > 0.5 AS at_risk
        |FROM grid GROUP BY c_nationkey, bal_band
        |ORDER BY c_nationkey, bal_band""".stripMargin,
    // chr codes mirror the Spark probe exactly: 233=é, 769=combining
    // acute, 778=combining ring, 197=Å, 230/248/223=æ/ø/ß.
    "text_unaccent" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' caf' || chr(233) || ' cafe' || chr(769) || ' A' || chr(778)
        |         || ' ' || chr(197) || 'bo ' || chr(230) || chr(248) || chr(223)
        |      AS probe
        |  FROM documents
        |)
        |SELECT doc_id, length(probe) AS len_raw,
        |  length(strip_accents(probe)) AS len_stripped,
        |  md5(strip_accents(probe)) AS stripped_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    "merge_apply" ->
      """WITH m AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events
        |), base AS (
        |  SELECT user_id, event_type, event_id, tus AS ts_us, value FROM (
        |    SELECT user_id, event_type, event_id, value, epoch_us(ts) AS tus,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |    FROM events, m WHERE epoch_us(ts) <= mid) WHERE rn = 1
        |), chg AS (
        |  SELECT user_id, event_type, event_id, tus AS ts_us, value,
        |    CASE WHEN ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
        |              % 10 = 0
        |         THEN 'delete' ELSE 'upsert' END AS op
        |  FROM (
        |    SELECT user_id, event_type, event_id, value, epoch_us(ts) AS tus,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |    FROM events, m WHERE epoch_us(ts) > mid) WHERE rn = 1
        |)
        |SELECT coalesce(c.user_id, b.user_id) AS user_id,
        |  coalesce(c.event_type, b.event_type) AS event_type,
        |  coalesce(c.event_id, b.event_id) AS event_id,
        |  coalesce(c.ts_us, b.ts_us) AS ts_us,
        |  round(coalesce(c.value, b.value), 6) AS value
        |FROM base b FULL OUTER JOIN chg c
        |  ON b.user_id = c.user_id AND b.event_type = c.event_type
        |WHERE c.op IS NULL OR c.op <> 'delete'
        |ORDER BY user_id, event_type""".stripMargin,
    "returned_top_customers" ->
      """WITH r AS (
        |  SELECT o_custkey,
        |    sum(round(l_extendedprice * (1 - l_discount) * 100, 0)::BIGINT) AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY 1
        |)
        |SELECT c_custkey, c_name, c_nationkey,
        |  round(cents / 100.0, 2) AS lost_revenue
        |FROM r JOIN customer ON o_custkey = c_custkey
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  round(sum(cents) / 100.0, 2) AS total_revenue,
        |  round(sum(CASE WHEN s_nationkey = 7 THEN cents ELSE 0 END)::DOUBLE
        |        / sum(cents), 6) AS mkt_share
        |FROM (
        |  SELECT o_orderdate, s_nationkey,
        |    round(l_extendedprice * (1 - l_discount) * 100, 0)::BIGINT AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE p_type = 'PROMO')
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    // Compound (nation, 3-digit-prefix) blocking mirrored from the
    // engine; the oracle's levenshtein stays UN-banded so the hash
    // match proves the banded rewrite is semantics-preserving.
    "lev_prefilter" ->
      """WITH c AS (
        |  SELECT c_nationkey, substring(c_name, 10, 3) AS pfx3, c_name
        |  FROM customer)
        |SELECT a.c_nationkey, count(*) AS n_close_pairs
        |FROM c a JOIN c b
        |  ON a.c_nationkey = b.c_nationkey AND a.pfx3 = b.pfx3
        |    AND a.c_name < b.c_name
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |GROUP BY 1 ORDER BY a.c_nationkey""".stripMargin,
    // Edge anti-joined against the two-hop common-neighbor pair set;
    // endpoint degrees ride along.
    "graph_bridges" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
        |), e AS (
        |  SELECT x.item AS ia, y.item AS ib
        |  FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT ia AS u, ib AS v FROM e
        |  UNION ALL SELECT ib AS u, ia AS v FROM e
        |), deg AS (SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY 1)
        |SELECT e.ia AS item_a, e.ib AS item_b,
        |  da.deg AS deg_a, db.deg AS deg_b
        |FROM e JOIN deg da ON da.u = e.ia JOIN deg db ON db.u = e.ib
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM sym s1 JOIN sym s2 ON s1.v = s2.u
        |  WHERE s1.u = e.ia AND s2.v = e.ib
        |)
        |ORDER BY item_a, item_b""".stripMargin,
    // Fixed global 10-bin grid, first day as reference, 0.5-Laplace
    // smoothing; PSI terms round to nano-units before the exact sum.
    "drift_timeline" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, value FROM events
        |), b AS (
        |  SELECT min(value) AS mn, max(value) AS mx, min(day) AS d0 FROM ev
        |), db AS (
        |  SELECT day,
        |    CASE WHEN (SELECT mx FROM b) = (SELECT mn FROM b) THEN 0
        |      ELSE least(floor((value - (SELECT mn FROM b)) * 10
        |        / ((SELECT mx FROM b) - (SELECT mn FROM b))), 9)::BIGINT
        |    END AS bin,
        |    count(*)::BIGINT AS c
        |  FROM ev GROUP BY 1, 2
        |), ref AS (
        |  SELECT bin, c AS cr FROM db WHERE day = (SELECT d0 FROM b)
        |), rt AS (SELECT sum(cr)::BIGINT AS nr FROM ref),
        |dt AS (SELECT day, sum(c)::BIGINT AS nd FROM db GROUP BY 1),
        |grid AS (
        |  SELECT dt.day, dt.nd, g.bin
        |  FROM dt, (SELECT unnest(generate_series(0, 9)) AS bin) g
        |), terms AS (
        |  SELECT grid.day, grid.nd,
        |    (coalesce(db.c, 0) + 0.5) / (grid.nd + 5.0) AS pd,
        |    (coalesce(ref.cr, 0) + 0.5) / ((SELECT nr FROM rt) + 5.0) AS pr
        |  FROM grid LEFT JOIN db USING (day, bin)
        |  LEFT JOIN ref USING (bin)
        |  WHERE grid.day <> (SELECT d0 FROM b)
        |), nn AS (
        |  SELECT day, max(nd)::BIGINT AS n_events,
        |    sum(CAST(round((pd - pr) * ln(pd / pr) * 1000000000, 0)
        |      AS BIGINT))::BIGINT AS psi_nn
        |  FROM terms GROUP BY 1
        |)
        |SELECT day, n_events, round(psi_nn / 1000000000.0, 6) AS psi,
        |  psi_nn >= 200000000 AS drifted
        |FROM nn ORDER BY day""".stripMargin,
    // Sentence split + the shared stopword-argmax lang-ID applied per
    // sentence; majority by (count DESC, lang) row_number mirroring the
    // engine's arg-min struct.
    "doc_lang_mix" -> {
      val (hits, best, caseExpr) = langSql
      s"""WITH sr AS (
         |  SELECT doc_id, trim(unnest(regexp_extract_all(text, '[^.!?]+')))
         |    AS text
         |  FROM documents
         |), sents AS (SELECT doc_id, text FROM sr WHERE length(text) > 0),
         |scored AS (
         |  SELECT doc_id, $caseExpr AS slang FROM (
         |    SELECT doc_id, greatest($best) AS best, $best FROM (
         |      SELECT doc_id, text,
         |        $hits
         |      FROM sents))
         |), cnts AS (
         |  SELECT doc_id, slang, count(*)::BIGINT AS ns FROM scored GROUP BY 1, 2
         |), agg AS (
         |  SELECT doc_id, sum(ns)::BIGINT AS n_sentences,
         |    count(*)::BIGINT AS n_langs
         |  FROM cnts GROUP BY 1
         |), mj AS (
         |  SELECT doc_id, slang AS major_lang, ns AS mns FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY ns DESC, slang) AS rk FROM cnts) WHERE rk = 1
         |)
         |SELECT a.doc_id, a.n_sentences, a.n_langs, m.major_lang,
         |  round(m.mns / a.n_sentences, 6) AS major_share,
         |  a.n_langs > 1 AS mixed
         |FROM agg a JOIN mj m USING (doc_id) ORDER BY a.doc_id""".stripMargin
    },
    // Two unrolled EM iterations over the 8-row pattern census; E-step
    // responsibilities are pinned doubles, weighted counts round to
    // integer micro-units before every M-step sum.
    "er_em_weights" -> {
      def em(inP: String, outP: String): String =
        s"""$outP AS (
           |  SELECT sum(wn) / sum(tn) AS lam,
           |    sum(CASE WHEN g1 = 1 THEN wn ELSE 0 END) / sum(wn) AS m1,
           |    sum(CASE WHEN g2 = 1 THEN wn ELSE 0 END) / sum(wn) AS m2,
           |    sum(CASE WHEN g3 = 1 THEN wn ELSE 0 END) / sum(wn) AS m3,
           |    sum(CASE WHEN g1 = 1 THEN tn - wn ELSE 0 END)
           |      / sum(tn - wn) AS u1,
           |    sum(CASE WHEN g2 = 1 THEN tn - wn ELSE 0 END)
           |      / sum(tn - wn) AS u2,
           |    sum(CASE WHEN g3 = 1 THEN tn - wn ELSE 0 END)
           |      / sum(tn - wn) AS u3
           |  FROM (
           |    SELECT g1, g2, g3, np * 1000000 AS tn,
           |      CAST(round(lam * pm / (lam * pm + (1.0 - lam) * pu)
           |        * np * 1000000, 0) AS BIGINT) AS wn
           |    FROM (
           |      SELECT c.*, p.lam,
           |        (CASE WHEN g1 = 1 THEN p.m1 ELSE 1.0 - p.m1 END)
           |        * (CASE WHEN g2 = 1 THEN p.m2 ELSE 1.0 - p.m2 END)
           |        * (CASE WHEN g3 = 1 THEN p.m3 ELSE 1.0 - p.m3 END) AS pm,
           |        (CASE WHEN g1 = 1 THEN p.u1 ELSE 1.0 - p.u1 END)
           |        * (CASE WHEN g2 = 1 THEN p.u2 ELSE 1.0 - p.u2 END)
           |        * (CASE WHEN g3 = 1 THEN p.u3 ELSE 1.0 - p.u3 END) AS pu
           |      FROM census c, $inP p))
           |)""".stripMargin
      s"""WITH d AS (
         |  SELECT doc_id, lang, source, n_chars // 100 AS blk,
         |    substring(text, 1, 16) AS pfx
         |  FROM documents
         |), census AS (
         |  SELECT CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS g1,
         |    CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g2,
         |    CASE WHEN a.pfx = b.pfx THEN 1 ELSE 0 END AS g3,
         |    count(*)::BIGINT AS np
         |  FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3
         |), p0 AS (
         |  SELECT 0.1::DOUBLE AS lam, 0.9::DOUBLE AS m1, 0.9::DOUBLE AS m2,
         |    0.9::DOUBLE AS m3, 0.1::DOUBLE AS u1, 0.1::DOUBLE AS u2,
         |    0.1::DOUBLE AS u3
         |),
         |${em("p0", "p1")},
         |${em("p1", "p2")}
         |SELECT field, m, u, ln_weight, lam FROM (
         |  SELECT 'lang' AS field, round(m1, 6) AS m, round(u1, 6) AS u,
         |    CASE WHEN u1 > 0 AND m1 > 0 THEN round(ln(m1 / u1), 6) END AS ln_weight, round(lam, 6) AS lam FROM p2
         |  UNION ALL
         |  SELECT 'source', round(m2, 6), round(u2, 6),
         |    CASE WHEN u2 > 0 AND m2 > 0 THEN round(ln(m2 / u2), 6) END, round(lam, 6) FROM p2
         |  UNION ALL
         |  SELECT 'prefix16', round(m3, 6), round(u3, 6),
         |    CASE WHEN u3 > 0 AND m3 > 0 THEN round(ln(m3 / u3), 6) END, round(lam, 6) FROM p2
         |) ORDER BY field""".stripMargin
    },
    "er_scores" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, n_chars // 100 AS blk,
        |    substring(text, 1, 16) AS pfx
        |  FROM documents
        |)
        |SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id,
        |  a.lang = b.lang AS lang_eq,
        |  a.source = b.source AS src_eq,
        |  a.pfx = b.pfx AS pfx_eq,
        |  round(
        |    (CASE WHEN a.lang = b.lang THEN 1.15268::DOUBLE
        |          ELSE -2.639057::DOUBLE END) +
        |    (CASE WHEN a.source = b.source THEN 2.890372::DOUBLE
        |          ELSE -2.251292::DOUBLE END) +
        |    (CASE WHEN a.pfx = b.pfx THEN 6.684612::DOUBLE
        |          ELSE -1.608437::DOUBLE END), 6) AS score
        |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |ORDER BY score DESC, a_doc_id, b_doc_id LIMIT 50""".stripMargin,
    // The oracle restates the closure: result keys = all keys, diff = 0.
    "cdc_roundtrip" ->
      """WITH m AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events
        |)
        |SELECT
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id, event_type
        |     FROM events, m WHERE epoch_us(ts) <= mid)) AS n_base,
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id, event_type
        |     FROM events)) AS n_target,
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id, event_type
        |     FROM events)) AS n_result,
        |  0::BIGINT AS n_diff""".stripMargin,
    "backtest_folds" ->
      """WITH b AS (
        |  SELECT min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax FROM events
        |), f AS (
        |  SELECT unnest(range(1, 4)) AS fold
        |), a AS (
        |  SELECT epoch_us(e.ts) AS tus, f.fold,
        |    CASE WHEN epoch_us(e.ts) <= tmin + ((tmax - tmin) * fold) // 4
        |           THEN 'train'
        |         WHEN epoch_us(e.ts) <= tmin + ((tmax - tmin) * (fold + 1)) // 4
        |           THEN 'test'
        |    END AS role
        |  FROM events e CROSS JOIN b CROSS JOIN f
        |)
        |SELECT fold, role, count(*) AS n, min(tus) AS min_us, max(tus) AS max_us
        |FROM a WHERE role IS NOT NULL
        |GROUP BY fold, role ORDER BY fold, role""".stripMargin,
    "quantile_bins" ->
      """WITH br AS (
        |  SELECT quantile_cont(value, [0.25, 0.5, 0.75]) AS breaks
        |  FROM events WHERE event_id % 2 = 0
        |)
        |SELECT
        |  (CASE WHEN value > breaks[1] THEN 1 ELSE 0 END +
        |   CASE WHEN value > breaks[2] THEN 1 ELSE 0 END +
        |   CASE WHEN value > breaks[3] THEN 1 ELSE 0 END) AS bin,
        |  count(*) AS n, round(min(value), 6) AS lo, round(max(value), 6) AS hi
        |FROM events CROSS JOIN br
        |GROUP BY 1 ORDER BY bin""".stripMargin,
    // Same deterministic inverse-CDF Laplace draws (threshold 2/ε,
    // queries 4/ε) and cumulative-positives halt at c = 3.
    "dp_svt" ->
      """WITH q AS (
        |  SELECT (epoch_us(ts) % 86400000000) // 3600000000 AS hod,
        |    count(*)::BIGINT AS q_true
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT sum(q_true)/count(*)
        |    + (-20.0 * sign(ut - 0.5) * ln(1 - 2 * abs(ut - 0.5))) AS t_noisy
        |  FROM q CROSS JOIN (
        |    SELECT (('0x' || substr(md5('svt:threshold'), 1, 15))::BIGINT + 0.5)
        |      / power(16, 15) AS ut)
        |  GROUP BY ut
        |), n AS (
        |  SELECT hod, q_true,
        |    q_true + (-40.0 * sign(uq - 0.5) * ln(1 - 2 * abs(uq - 0.5))) AS q_noisy
        |  FROM (
        |    SELECT hod, q_true,
        |      (('0x' || substr(md5('svt:q:' || hod), 1, 15))::BIGINT + 0.5)
        |        / power(16, 15) AS uq
        |    FROM q)
        |), h AS (
        |  SELECT hod, q_true, q_noisy, t_noisy,
        |    CASE WHEN q_noisy >= t_noisy THEN 1 ELSE 0 END AS hit,
        |    coalesce(sum(CASE WHEN q_noisy >= t_noisy THEN 1 ELSE 0 END)
        |      OVER (ORDER BY hod ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING), 0) AS prior_hits
        |  FROM n CROSS JOIN t
        |)
        |SELECT hod, q_true, round(q_noisy, 6) AS q_noisy,
        |  round(t_noisy, 6) AS t_noisy,
        |  prior_hits < 3 AS evaluated,
        |  prior_hits < 3 AND hit = 1 AS above
        |FROM h ORDER BY hod""".stripMargin,
    "dp_counts" ->
      """SELECT event_type, 0.1::DOUBLE AS eps,
        |  round(count(*) +
        |    round(-10.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 6), 6) AS n_dp
        |FROM (
        |  SELECT event_type,
        |    (('0x' || substr(md5('dp:' || event_type), 1, 15))::BIGINT + 0.5)
        |      / power(16, 15) AS u
        |  FROM events)
        |GROUP BY event_type, u ORDER BY event_type""".stripMargin,
    // est_ok is the HLL audit boolean — exact on the oracle side.
    "key_overlap" ->
      """WITH ec AS (
        |  SELECT 'events_customer' AS pair,
        |    (SELECT count(DISTINCT user_id) FROM events) AS n_a,
        |    (SELECT count(DISTINCT c_custkey) FROM customer) AS n_b,
        |    (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events) e
        |       JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |         ON e.user_id = c.c_custkey) AS n_common,
        |    true AS est_ok
        |), lp AS (
        |  SELECT 'lineitem_part' AS pair,
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem) AS n_a,
        |    (SELECT count(DISTINCT p_partkey) FROM part) AS n_b,
        |    (SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem) l
        |       JOIN (SELECT DISTINCT p_partkey FROM part) p
        |         ON l.l_partkey = p.p_partkey) AS n_common,
        |    true AS est_ok
        |), oc AS (
        |  SELECT 'orders_customer' AS pair,
        |    (SELECT count(DISTINCT o_custkey) FROM orders) AS n_a,
        |    (SELECT count(DISTINCT c_custkey) FROM customer) AS n_b,
        |    (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders) o
        |       JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |         ON o.o_custkey = c.c_custkey) AS n_common,
        |    true AS est_ok
        |)
        |SELECT * FROM ec UNION ALL SELECT * FROM lp UNION ALL SELECT * FROM oc
        |ORDER BY pair""".stripMargin,
  )
}
