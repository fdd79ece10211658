package graft.queries

import graft.Tables
import graft.ops.{Dedup, Similarity, Triangles}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver wiring for near-dup dedup + similarity search (SURVEY §2
  * #19–24). The LSH-based operators (minhash, simhash) depend on
  * engine-specific hash functions, so they are rows-checked here and
  * recall-bounded in specs; the Jaccard / cosine operators are exact
  * integer-or-double arithmetic and carry DuckDB oracles.
  */
object DedupSimQueries {

  /** documents ∪ a tail-truncated mutation of each document — planted
    * near-duplicates for the near-dup detectors. */
  def withMutations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    docs.unionAll(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 40, 1))").as("text")))
  }

  private val pairsCache = new Memo[DataFrame]

  /** Exact n-gram Jaccard pairs over the planted-mutation corpus,
    * materialized once per (session, dir): the pair list and its
    * connected-components clustering are two consumers of one
    * computation, as in a real dedup pipeline.
    *
    * maxShingleDf = 10 deliberately binds at sf0.01 (max df 14) and
    * sf0.1 (max df 49) so the hot-shingle cap — the guard against df²
    * pair blowup at web scale — is exercised by the correctness gate,
    * not just by specs; the same HAVING filter appears in both oracles. */
  def ngramPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache(s, dir)(
      Dedup.ngramJaccard(withMutations(s, dir), "text", "doc_id", n = 3, minJaccard = 0.6,
        maxShingleDf = 10)
        .transform(Tables.checkpoint))

  /** #19 n-gram Jaccard near-dup over the planted-mutation corpus. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramPairs(s, dir).orderBy("doc_id_a", "doc_id_b")

  /** #19r prefix-filtered Jaccard join — the All-Pairs/PPJoin scale
    * path. EXACT equivalence with the full inverted-index join via a
    * provably-lossless candidate reduction: same planted-mutation
    * corpus, threshold, and df cap as `dedup_ngram_jaccard`, so the
    * oracle SQL is byte-identical while the engine-side execution
    * (rarest-first prefix index self-join + array verification) is
    * entirely different. */
  def dedupPrefixFilter(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterJaccard(withMutations(s, dir), "text", "doc_id",
      n = 3, minJaccard = 0.6, maxShingleDf = 10)
      .orderBy("doc_id_a", "doc_id_b")

  /** documents ∪ a 25-token prefix snippet of every 8th document —
    * planted near-SUBSET pairs: a prefix's shingle set is contained in
    * its parent's (df-capping removes shingles from both symmetrically,
    * so the subset relation survives the cap), giving containment
    * exactly 1.0 while Jaccard stays far below any dedup threshold.
    * split/slice/join mirrors byte-for-byte in the oracle. */
  def withSnippets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    docs.unionAll(docs.filter(col("doc_id") % 8 === 0).select(
      (col("doc_id") + 2000000).as("doc_id"),
      array_join(slice(split(col("text"), "\\s+"), 1, 25), " ").as("text")))
  }

  /** #19i asymmetric n-gram containment at ≥ 0.9 — the near-subset
    * detector (quoted snippets, excerpts, boilerplate inclusions) that
    * symmetric Jaccard misses. Same inverted-index blocking and df-cap
    * as #19. */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainment(withSnippets(s, dir), "text", "doc_id",
        n = 3, minContainment = 0.9, maxShingleDf = 10)
      .orderBy("doc_id_a", "doc_id_b")

  /** #19k per-vertex triangle counts on the cosine similarity graph
    * (threshold 0.4) — the local-clustering signal separating dense
    * near-dup communities from chance pairs. Edges carry
    * vec_id_a < vec_id_b, the orientation [[Triangles.perVertex]]
    * needs to enumerate each triangle exactly once. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    Triangles.perVertex(
        bandedCosinePairs(s, dir, 0.4),
        "vec_id_a", "vec_id_b")
      .select(col("v").as("vec_id"), col("n_tri"))
      .orderBy("vec_id")

  /** #19m local clustering coefficient per vertex of the 0.35-cosine
    * graph (denser than the 0.4 triangle query, so coefficients span
    * the (0, 1] range): n_tri / C(degree, 2) for degree ≥ 2 —
    * distinguishes clique-like near-dup communities (→ 1) from hub
    * vertices whose neighbors are mutually unrelated (→ 0). */
  def graphClustering(s: SparkSession, dir: String): DataFrame =
    Triangles.localClustering(
        bandedCosinePairs(s, dir, 0.35),
        "vec_id_a", "vec_id_b")
      .select(col("v").as("vec_id"), col("degree"), col("n_tri"), col("coeff"))
      .orderBy("vec_id")

  /** #19n sorted-neighborhood near-dup pass over the tail-truncated
    * corpus ([[Dedup.sortedNeighborhood]]): planted mutants share the
    * parent's 40-char prefix, so they sort adjacent and verify at
    * levenshtein ≈ 40 ≤ 80. */
  def dedupSortedNbhd(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val corpus = docs.unionAll(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 40, 1))").as("text")))
    Dedup.sortedNeighborhood(corpus, "text", "doc_id")
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** #19j edit-distance verification of the near-dup pair list: exact
    * levenshtein over the candidate pairs ONLY — the expensive O(m·n)
    * comparison is affordable precisely because the shingle pass has
    * already shrunk the pair space (at web scale, additionally bound
    * the compared prefix or use the thresholded variant). */
  def pairEditDistance(s: SparkSession, dir: String): DataFrame = {
    val corpus = withMutations(s, dir)
    val cand = ngramPairs(s, dir)
      .join(corpus.select(col("doc_id").as("doc_id_a"), col("text").as("ta")),
        "doc_id_a")
      .join(corpus.select(col("doc_id").as("doc_id_b"), col("text").as("tb")),
        "doc_id_b")
    // The candidate list is tiny in bytes, so AQE coalesces it to ~1
    // partition — which would serialize the O(m·n) edit-distance pass
    // on one core (same trap as sortedNeighborhood's verify). Gated on
    // the corpus scan's width: at scale the joins already fan out.
    Tables.fanOut(cand, corpus)
      .select(col("doc_id_a"), col("doc_id_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"))
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** #20 MinHash+LSH near-dup (band-bucketed, verified on candidates). */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(withMutations(s, dir), "text", "doc_id",
      n = 3, numHashes = 32, bands = 8, minJaccard = 0.6)
      .orderBy("doc_id_a", "doc_id_b")

  /** Lighter mutation for SimHash: a ~2-token truncation perturbs only a
    * few shingles, keeping planted pairs inside a small Hamming budget
    * (SimHash is a coarser detector than MinHash — bit flips scale with
    * the *fraction* of shingles changed vs the vote margin √|shingles|). */
  def withLightMutations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    docs.unionAll(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 12, 1))").as("text")))
  }

  /** #20b MinHash banding completeness, driver-hash-checked: every exact
    * Jaccard ≥ 0.6 pair must surface among the banded candidates. The
    * Spark side semi-joins truth against candidates while the oracle
    * recomputes the *full* truth list, so the hash matches iff banding
    * dropped no true pair. Runs at an aggressive r=2, b=32 design point
    * where P(miss | j ≥ 0.6) = (1−j²)³² ≈ 6·10⁻⁷. The truth here is
    * deliberately UNCAPPED (not the df-capped [[ngramPairs]]): the
    * signatures hash the full shingle sets, so the miss bound applies to
    * full-space Jaccard — capped truth would assert it against the
    * wrong j. */
  def dedupMinhashContainment(s: SparkSession, dir: String): DataFrame = {
    val cand = Dedup.minHashCandidates(withMutations(s, dir), "text", "doc_id",
      n = 3, numHashes = 64, bands = 32)
    Dedup.ngramJaccard(withMutations(s, dir), "text", "doc_id",
      n = 3, minJaccard = 0.6, maxShingleDf = Int.MaxValue)
      .join(cand, Seq("doc_id_a", "doc_id_b"), "left_semi")
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** #19c' keep-BEST-per-cluster: representative election by quality
    * score (desc, doc_id tiebreak) instead of min id — keep the best
    * duplicate, drop the rest. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis
    val scored = withMutations(s, dir)
      .withColumn("quality_score",
        round(TextAnalysis.qualityScore(col("text")), 6))
    Dedup.keepRepresentativesBy(scored, ngramPairs(s, dir), "doc_id",
        "doc_id_a", "doc_id_b",
        Seq(col("quality_score").desc, col("doc_id")))
      .select("doc_id", "quality_score")
      .orderBy("doc_id")
  }

  /** #21 SimHash near-dup (pigeonhole-chunk-bucketed). */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash(withLightMutations(s, dir), "text", "doc_id", n = 3, maxHamming = 6)
      .orderBy("doc_id_a", "doc_id_b")

  /** #21b SimHash pigeonhole completeness, driver-hash-checked: plant an
    * exact duplicate of every document — hamming 0, so the pair agrees
    * on ALL maxHamming+1 chunks and the bucketed self-join MUST surface
    * it (the pigeonhole guarantee is exact, not probabilistic, within
    * the Hamming radius). The Spark side probes every planted pair
    * against the detector's output; the oracle restates the full truth
    * list (every shingle-able doc, i.e. ≥ 3 whitespace tokens) with a
    * constant-true flag, so the hash matches iff the blocking dropped
    * no pair and every probe found hamming 0. */
  def dedupSimhashContainment(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val corpus = docs.unionAll(
      docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val pairs = Dedup.simHash(corpus, "text", "doc_id", n = 3, maxHamming = 3)
    val truth = docs
      .filter(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))) >= 3)
      .select(col("doc_id"), (col("doc_id") + 1000000).as("dup_id"))
    truth.join(pairs,
        truth("doc_id") === pairs("doc_id_a") &&
          truth("dup_id") === pairs("doc_id_b") && pairs("hamming") === 0,
        "left")
      .select(truth("doc_id"), pairs("doc_id_a").isNotNull.as("found"))
      .orderBy("doc_id")
  }

  /** #22 embedding-cosine near-dup pairs (exact, double arithmetic). */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosine(Tables.embeddings(s, dir), "embedding", "vec_id", 0.4)
      .orderBy("vec_id_a", "vec_id_b")

  /** #19i fixed-iteration PageRank over the symmetrized cosine
    * similarity graph — centrality inside the near-dup neighborhood
    * (which representative is the hub); the oracle unrolls the same
    * five damped steps as a pure SQL join chain. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val pairs = bandedCosinePairs(s, dir, 0.4)
      .select(col("vec_id_a").as("s"), col("vec_id_b").as("t"))
    val edges = pairs.unionAll(pairs.select(col("t").as("s"), col("s").as("t")))
    graft.ops.PageRank.run(edges, "s", "t", iterations = 5)
      .select(col("v").as("vec_id"), round(col("p"), 6).as("rank"))
      .orderBy("vec_id")
  }

  /** #19i'' PageRank over the kNN similarity graph — the corpus-scale
    * graph substrate: unlike the threshold graph (whose edge SET is
    * inherently near-quadratic at low thresholds), the kNN graph is
    * O(n·k) edges by construction, so every downstream graph operator
    * stays linear in the corpus no matter how dense the embedding space
    * gets. Edges come from the IVF ANN top-k lists
    * ([[graft.ops.Similarity.ivfTopK]]) at exhaustive probe
    * (nprobe = nlist), where IVF provably equals brute-force top-k
    * (the `sim_ann_ivf` audit) — which is what makes a full SQL oracle
    * possible: brute-force kNN edges + the same five unrolled damped
    * steps. At true corpus scale the only change is nprobe < nlist
    * (recall bounded in SimilaritySpec) and nlist ∝ √n; the graph and
    * everything downstream are untouched. */
  def graphPagerankKnn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val topk = embIvfIndex(s, dir)
      .search(e, "vec_id", "embedding", k = 5, nprobe = 32)
    val fwd = topk.select(col("query_id").as("s"), col("neighbor_id").as("t"))
    // Symmetrize + dedup: mutual top-k pairs appear in both lists.
    val edges = fwd.unionAll(fwd.select(col("t").as("s"), col("s").as("t")))
      .distinct()
    graft.ops.PageRank.run(edges, "s", "t", iterations = 5)
      .select(col("v").as("vec_id"), round(col("p"), 6).as("rank"))
      .orderBy("vec_id")
  }

  /** #19p duplicate-cluster size histogram over the n-gram component
    * labels ([[clusterLabels]], memoized): how much of the near-dup
    * mass sits in pairs vs long chains — the shape that decides whether
    * keep-one dedup meaningfully shrinks the corpus. */
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** #23d binary sign-sketch similarity: each embedding quantized to a
    * 63-bit sign signature (one BIGINT — bit i set iff component i > 0),
    * then top-5 neighbors per probe by exact integer Hamming distance
    * (`bit_count(xor)`), vec_id tiebreak. The 64-byte-to-8-byte
    * compression tier below PQ: at 100 TB the signature table is what
    * ships to every executor, and XOR+popcount is the cheapest distance
    * there is. Fourth ANN family next to brute-force, LSH and (IVF-)PQ. */
  def simHamming(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = Tables.embeddings(s, dir).select(col("vec_id"), expr(
      """aggregate(sequence(1, 63), 0L,
        |  (acc, i) -> acc + CASE WHEN element_at(embedding, i) > 0
        |    THEN shiftleft(1L, i - 1) ELSE 0L END)""".stripMargin).as("sig"))
    val probes = sig.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("sig").as("psig"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("hamming"), col("vec_id"))
    probes.join(sig, col("vec_id") =!= col("probe_id"))
      .withColumn("hamming", expr("bit_count(sig ^ psig)").cast("long"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select("probe_id", "rk", "vec_id", "hamming")
      .orderBy("probe_id", "rk")
  }

  /** #19q survivorship / golden-record construction: per near-dup
    * cluster (singletons included), the merged record — smallest id as
    * record key, member count, the modal language (count-then-lang
    * total order breaks ties) and the longest body. The field-wise
    * merge step an entity-resolution pipeline runs AFTER clustering,
    * where keep-one would throw information away. */
  def dedupSurvivorship(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val corpus = docs.unionAll(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 40, 1))").as("text")))
    val meta = corpus
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("base_id",
        when(col("doc_id") >= 1000000, col("doc_id") - 1000000).otherwise(col("doc_id")))
      .join(Tables.documents(s, dir).select(col("doc_id").as("base_id"), col("lang")),
        "base_id")
      .select("doc_id", "n_chars", "lang")
    val members = meta
      .join(clusterLabels(s, dir), col("doc_id") === col("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val lm = members.groupBy("cluster", "lang").agg(count(lit(1)).as("cnt"))
    val modeLang = lm.withColumn("r", row_number().over(
        Window.partitionBy("cluster").orderBy(col("cnt").desc, col("lang"))))
      .filter(col("r") === 1).select(col("cluster"), col("lang").as("golden_lang"))
    members.groupBy("cluster")
      .agg(min("doc_id").as("record_id"), count(lit(1)).as("n_members"),
        max("n_chars").as("max_chars"))
      .join(modeLang, "cluster")
      .select("cluster", "record_id", "n_members", "golden_lang", "max_chars")
      .orderBy("cluster")
  }

  /** #19o fixed-depth BFS hop distances over the symmetrized similarity
    * graph ([[graft.ops.Bfs]]), rooted at the max-degree vertex
    * (smallest id on ties) — the reachability profile of the densest
    * cosine neighborhood. The oracle unrolls the same 4 frontier
    * expansions as CTEs. */
  def graphBfs(s: SparkSession, dir: String): DataFrame = {
    val pairs = bandedCosinePairs(s, dir, 0.4)
      .select(col("vec_id_a").as("s"), col("vec_id_b").as("t"))
    val edges = pairs.unionAll(pairs.select(col("t").as("s"), col("s").as("t")))
      .transform(Tables.checkpoint)
    val src = edges.groupBy("s").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("s")).head.getLong(0)
    graft.ops.Bfs.distances(edges, "s", "t", src, 4)
      .select(col("v").as("vec_id"), col("dist"))
      .orderBy("vec_id")
  }

  /** embeddings ∪ a tail-zeroed mutation of each vector — planted
    * high-cosine near-dups: cos(v, mutation) = |v[1:56]| / |v| ≈ √(56/64)
    * ≈ 0.93 for iid components, while the natural pair space tops out
    * near cosine 0.51, so threshold 0.7 isolates the planted pairs. The
    * mutation is pure slicing, so the DuckDB oracle reproduces it. */
  def withVecMutations(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    e.unionAll(e.select(
      (col("vec_id") + 1000000).as("vec_id"),
      expr("concat(slice(embedding, 1, 56), array_repeat(cast(0.0 as float), 8))")
        .as("embedding")))
  }

  /** #19ab detector precision/recall against the planted truth — the
    * eval loop every dedup pipeline needs closed: the n-gram Jaccard
    * detector's pairs scored against the known (d, d+10⁶) mutation
    * pairs. TP and both denominators are exact integer pair-set
    * tallies; recall counts EVERY planted pair (mutants the detector
    * legitimately cannot see — too short to shingle, hot-shingle-
    * capped — are exactly what the metric should charge it for). */
  def dedupPr(s: SparkSession, dir: String): DataFrame = {
    val cand = ngramPairs(s, dir).select("doc_id_a", "doc_id_b")
    val truth = Tables.documents(s, dir)
      .select(col("doc_id").as("doc_id_a"),
        (col("doc_id") + 1000000).as("doc_id_b"))
    val tp = cand.join(truth, Seq("doc_id_a", "doc_id_b"), "left_semi")
      .agg(count(lit(1)).as("tp"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    tp.crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
      .select(col("tp"), col("n_cand"), col("n_truth"),
        expr("case when n_cand > 0 then round(cast(tp as double)/n_cand, 6) end")
          .as("precision"),
        expr("case when n_truth > 0 then round(cast(tp as double)/n_truth, 6) end")
          .as("recall"))
  }

  /** #23g embedding triplet audit over the planted mutations — the
    * contrastive sanity check "is each vector closer to its own
    * near-duplicate than to ANY other base": pos = cos(base, mutant),
    * hardest negative = max cos(base, other base), violation when the
    * margin pos − maxneg < 0.1. Cosines are the same single-chain
    * doubles the dedup family pins; margins round to nano units before
    * the mean (round-then-sum). */
  def embTripletAudit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.ops.Similarity.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    val mut = e.select(col("id"), col("v"), col("nrm"))
      .withColumn("mv", expr(
        "concat(slice(v, 1, 56), array_repeat(cast(0.0 as double), 8))"))
      .withColumn("mnrm", sqrt(graft.ops.Similarity.dot(col("mv"), col("mv"))))
      .filter(col("mnrm") > 0)
      .withColumn("pos", graft.ops.Similarity.dot(col("v"), col("mv"))
        / (col("nrm") * col("mnrm")))
      .select(col("id"), col("pos"))
    val other = e.select(col("id").as("id2"), col("v").as("v2"),
      col("nrm").as("nrm2"))
    val hardest = e.join(other, col("id") =!= col("id2"))
      .withColumn("c", graft.ops.Similarity.dot(col("v"), col("v2"))
        / (col("nrm") * col("nrm2")))
      .groupBy("id").agg(max("c").as("maxneg"))
    mut.join(hardest, "id")
      .withColumn("margin", col("pos") - col("maxneg"))
      .withColumn("m_nano", expr("cast(round(margin*1e9) as bigint)"))
      .agg(count(lit(1)).as("n_triplets"),
        sum(when(col("margin") < 0.1, 1L).otherwise(0L)).as("n_violations"),
        round(min("margin"), 6).as("min_margin"),
        sum("m_nano").as("sm"))
      .select(col("n_triplets"), col("n_violations"), col("min_margin"),
        expr("round(sm/1e9/n_triplets, 6)").as("mean_margin"))
  }

  /** Planted density structure for [[dbscanEmbed]]: every fifth base
    * vector gets THREE tail/head/middle-zeroed mutations (a 1-core,
    * 3-border star at the 0.9 cosine gate — mutations sit near the
    * base but not near each other), every fifth-plus-one gets ONE
    * (a below-minPts noise pair); everything else stays a singleton. */
  def withDensityFamilies(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val z8 = "array_repeat(cast(0.0 as float), 8)"
    val m5 = e.filter(pmod(col("vec_id"), lit(5)) === 0)
    e.unionAll(m5.select((col("vec_id") + 1000000).as("vec_id"),
        expr(s"concat(slice(embedding, 1, 56), $z8)").as("embedding")))
      .unionAll(m5.select((col("vec_id") + 2000000).as("vec_id"),
        expr(s"concat($z8, slice(embedding, 9, 56))").as("embedding")))
      .unionAll(m5.select((col("vec_id") + 3000000).as("vec_id"),
        expr(s"concat(slice(embedding, 1, 28), $z8, slice(embedding, 37, 28))")
          .as("embedding")))
      .unionAll(e.filter(pmod(col("vec_id"), lit(5)) === 1)
        .select((col("vec_id") + 1000000).as("vec_id"),
          expr(s"concat(slice(embedding, 1, 56), $z8)").as("embedding")))
  }

  /** #51i DBSCAN over the planted-density embeddings — the
    * density-based complement to [[kmeansEmbed]] (no k, finds noise):
    * eps-neighbors are cosine ≥ 0.9 pairs from the LSH-banded
    * enumerator (exact-verified candidates), a CORE point has ≥ 3 neighbors, clusters are
    * connected components of the core-core graph (min-label, exact
    * closure in the oracle), a BORDER point is a non-core with a core
    * neighbor (label = min over its cores' labels), everything else is
    * NOISE with a null cluster. All elections are integer min/counts —
    * nothing floats but the pinned pair threshold itself. */
  def dbscanEmbed(s: SparkSession, dir: String): DataFrame = {
    val fam = withDensityFamilies(s, dir)
    // High-threshold regime: the default selective design (r = 8 bits/
    // band) already misses a >= 0.9 pair with probability <= 2e-5 —
    // measured zero missed eps-pairs vs the exact enumerator at all
    // three sf scales.
    val pairs = Dedup.embeddingCosineLsh(fam, "embedding", "vec_id", 0.9)
      .select(col("vec_id_a").as("a"), col("vec_id_b").as("b"))
    val sym = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      .transform(Tables.checkpoint)
    val core = sym.groupBy("a").agg(count(lit(1)).as("d"))
      .filter(col("d") >= 3).select(col("a").as("id"))
    val ce = sym
      .join(core.select(col("id").as("a")), "a")
      .join(core.select(col("id").as("b")), "b")
      .select("a", "b")
    val coreLab = core
      .join(graft.ops.Dedup.clusters(ce, "a", "b"), Seq("id"), "left")
      .select(col("id").as("vec_id"),
        coalesce(col("cluster"), col("id")).as("cluster"))
    val borderLab = sym
      .join(coreLab.select(col("vec_id").as("b"), col("cluster")), "b")
      .join(core.select(col("id").as("a")), Seq("a"), "left_anti")
      .groupBy(col("a").as("vec_id")).agg(min("cluster").as("cluster"))
    fam.select("vec_id")
      .join(coreLab.withColumn("role_c", lit("core")), Seq("vec_id"), "left")
      .join(borderLab.withColumnRenamed("cluster", "cluster_b")
        .withColumn("role_b", lit("border")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("role_c"), col("role_b"), lit("noise")).as("role"),
        coalesce(col("cluster"), col("cluster_b")).as("cluster"))
      .orderBy("vec_id")
  }

  /** #22b LSH-blocked embedding cosine at a high threshold — the
    * sub-quadratic near-dup path, hash-checked against the *exact* pair
    * SQL: green iff the hyperplane banding surfaces every true pair
    * (verification is exact, so false extras are impossible). */
  def dedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosineLsh(withVecMutations(s, dir), "embedding", "vec_id", 0.7)
      .orderBy("vec_id_a", "vec_id_b")

  /** #23 brute-force cosine top-5 for a deterministic 1-in-50 query set. */
  def simBruteforceTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(
      e.filter(pmod(col("vec_id"), lit(50)) === 0), e, "vec_id", "embedding", 5)
      .orderBy("query_id", "rank")
  }

  /** #24 LSH ANN banding completeness, driver-hash-checked (the ANN twin
    * of [[dedupMinhashContainment]]): over the planted-mutation vectors,
    * every true top-5 neighbor at cosine ≥ 0.9 (= the planted ~0.93
    * pairs — the natural pair space tops out near 0.51) must surface
    * among the bucket-join candidates. The Spark side semi-joins exact
    * truth against [[graft.ops.LshIndex.candidates]] while the oracle
    * recomputes the full truth, so the hash matches iff banding dropped
    * no true high-cosine neighbor. Design point planes = 512, bands = 64
    * (r = 8): P(miss | cos ≥ 0.9) = (1 − p⁸)⁶⁴ ≤ 3·10⁻¹⁰ per row.
    * Realistic (sparser) design points stay recall-bounded in
    * SimilaritySpec. */
  def simAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = withVecMutations(s, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val idx = graft.ops.LshIndex.build(e, "vec_id", "embedding",
      planes = 512, bands = 64, materialize = false)
    mutTruthTop5(s, dir)
      .join(idx.candidates(q, "vec_id", "embedding"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .orderBy("query_id", "rank")
  }

  // The exact cosine ≥ 0.9 truth list over the planted-mutation corpus
  // (brute-force top-5 for the 1-in-50 query set) is IDENTICAL for the
  // three ANN containment audits (LSH, IVF-PQ, PQ) — computed and
  // checkpointed once per (session, dir) instead of once per audit
  // (§5 serve-many).
  private val mutTruthCache = new Memo[DataFrame]

  private def mutTruthTop5(s: SparkSession, dir: String): DataFrame =
    mutTruthCache(s, dir) {
      val e = withVecMutations(s, dir)
      Similarity.bruteForceTopK(
          e.filter(pmod(col("vec_id"), lit(50)) === 0),
          e, "vec_id", "embedding", 5)
        .filter(col("cosine") >= 0.9)
        .transform(Tables.checkpoint)
    }

  private val bandedPairsCache = new Memo[DataFrame]

  /** Cosine pair source for the similarity-graph operators —
    * [[graft.ops.Dedup.embeddingCosineLsh]] at (planes=256, bands=64),
    * NOT the exact all-pairs path: at 10⁹ vectors the block×block
    * enumerator is an O(n²) cosine sweep, while banding prunes to
    * colliding buckets and verifies candidates exactly. The graph
    * queries sit at LOW thresholds (0.35/0.4 — the natural pair space
    * tops out near 0.51), where sign-LSH needs SHORT bands for recall:
    * r = 4 bits/band keeps the per-pair miss ≤ (1−p⁴)⁶⁴ ≈ 6·10⁻⁵ even
    * for a pair AT 0.35 (p = 1−θ/π ≈ 0.614) — measured zero missed
    * pairs vs the exact enumerator at sf0.001/0.01/0.1 for both
    * thresholds. Honest scale note: low-threshold similarity graphs
    * are inherently near-quadratic (sign-LSH exponent ρ = ln p₁/ln p₂
    * ≈ 0.7 at θ ≈ 66°, and the edge set itself can be Θ(n²)); at true
    * corpus scale the kNN/IVF operators (`sim_ann_*`) are the graph
    * substrate of choice — this source keeps the pair semantics of the
    * exact baseline while pruning the scored space ~p₂⁴·bands ≈ 4×.
    * Memoized + checkpointed per (session, dir, threshold): triangles,
    * pagerank and BFS all share the 0.4 edge list; harmonic and local
    * clustering share 0.35. */
  def bandedCosinePairs(s: SparkSession, dir: String, th: Double): DataFrame =
    bandedPairsCache(s, (dir, th)) {
      // The banding candidates are threshold-independent, so one LSH +
      // verify pass at the lowest declared threshold serves every caller
      // at or above it; each threshold is an exact filter on the
      // UNROUNDED verification cosine (bit-identical to a direct pass at
      // that threshold). A caller BELOW the base runs its own direct
      // pass instead of throwing (same pairs it would always have got) —
      // the shared base is an optimization, not a contract floor.
      val src =
        if (th >= bandedBaseThreshold) bandedBase(s, dir)
        else Dedup.embeddingCosineLshRaw(Tables.embeddings(s, dir),
          "embedding", "vec_id", th, planes = 256, bands = 64)
      src.filter(col("cosine") >= th)
        .select(col("vec_id_a"), col("vec_id_b"),
          round(col("cosine"), 6).as("cosine"))
        .transform(Tables.checkpoint)
    }

  private val bandedBaseThreshold = 0.35
  private val bandedBaseCache = new Memo[DataFrame]
  private def bandedBase(s: SparkSession, dir: String): DataFrame =
    bandedBaseCache(s, dir)(
      Dedup.embeddingCosineLshRaw(Tables.embeddings(s, dir), "embedding",
          "vec_id", bandedBaseThreshold, planes = 256, bands = 64)
        .transform(Tables.checkpoint))

  private val labelsCache = new Memo[DataFrame]

  /** Near-dup component labels over [[ngramPairs]], run once per
    * (session, dir): the iterative propagation's output is already
    * checkpoint-backed, so the memo alone stops `dedup_clusters` and
    * `split_leakfree` from each paying the propagation loop. */
  def clusterLabels(s: SparkSession, dir: String): DataFrame =
    labelsCache(s, dir)(
      Dedup.clusters(ngramPairs(s, dir), "doc_id_a", "doc_id_b"))

  /** #19b near-dup connected components over the exact n-gram Jaccard
    * pairs: min-label propagation vs a recursive-CTE transitive closure
    * in the oracle. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir).orderBy("id")

  /** #19b' clustering generality: the same min-label propagation over a
    * DIFFERENT detector's pairs — the LSH-blocked embedding-cosine
    * pairs (planted tail-zeroed mutations at 0.7) instead of n-gram
    * text pairs. The oracle recomputes the exact cosine pair list and
    * its recursive closure independently. */
  def dedupEmbeddingClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clusters(
        Dedup.embeddingCosineLsh(withVecMutations(s, dir), "embedding", "vec_id", 0.7),
        "vec_id_a", "vec_id_b")
      .orderBy("id")

  /** #19c end-to-end keep-one dedup: the corpus rows surviving near-dup
    * clustering — one representative (the min id) per connected
    * component, every unpaired row kept. Makes the full pipeline
    * (pairs → components → surviving corpus) driver-hash-checkable. */
  def dedupKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.keepRepresentatives(withMutations(s, dir), ngramPairs(s, dir),
      "doc_id", "doc_id_a", "doc_id_b")
      .orderBy("doc_id")

  /** #19d leakage-free train/test split: every corpus row carries its
    * near-dup component label (its own id when unpaired) and a
    * deterministic train/test assignment hashed from the LABEL, so
    * near-duplicates can never straddle the split boundary — the
    * composition a real pipeline runs between dedup and training.
    * Arithmetic hash (mod-first, overflow-free) so DuckDB mirrors it. */
  def splitLeakfree(s: SparkSession, dir: String): DataFrame = {
    val corpus = withMutations(s, dir)
    val labels = clusterLabels(s, dir)
    val labeled = corpus.join(labels, corpus("doc_id") === labels("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val h = pmod(
      pmod(col("cluster"), lit(1000000L)) * lit(2654435761L) + lit(13L),
      lit(1000000L))
    labeled
      .withColumn("split", when(h < lit(800000L), lit("train")).otherwise(lit("test")))
      .orderBy("doc_id")
  }

  /** Planted multi-paragraph corpus: document d's text becomes
    * lag ∥ own ∥ lead joined by blank lines (concat_ws skips the null
    * lag/lead at the corpus edges on both engines), so every base text
    * appears as a paragraph in up to three documents — the repeated-
    * boilerplate shape paragraph dedup exists for. The neighbor texts
    * come from a bucketed global rank ([[graft.ops.ChronoSplit
    * .withGlobalRank]]) + rank±1 equi-self-joins — even harness-side
    * corpus planting must not funnel the corpus through one
    * unpartitioned lag/lead window. Memoized per (session, dir): the
    * rank pipeline runs driver actions at construction, and four
    * queries consume the same planted corpus. */
  private val paraCorpusCache = new Memo[DataFrame]

  def withParagraphCorpus(s: SparkSession, dir: String): DataFrame =
    paraCorpusCache(s, dir) {
      val rk = graft.ops.ChronoSplit.RankCol
      val ranked = graft.ops.ChronoSplit
        .withGlobalRank(Tables.documents(s, dir).select("doc_id", "text"),
          "doc_id", "doc_id")
        .transform(Tables.checkpoint)
      val prev = ranked.select((col(rk) + 1).as(rk), col("text").as("lag_text"))
      val next = ranked.select((col(rk) - 1).as(rk), col("text").as("lead_text"))
      val joined = ranked.join(prev, Seq(rk), "left").join(next, Seq(rk), "left")
        .select(col("doc_id"),
          concat_ws("\n\n", col("lag_text"), col("text"), col("lead_text")).as("text"))
      // Every consumer of this corpus (per-position md5 k-gram scans,
      // paragraph splits) is CPU-heavy per row while the corpus itself is
      // a single parquet split — fan the rows out so the narrow scans run
      // cluster-wide instead of on one core (gated on the documents scan's
      // width: a wide at-scale corpus is already fanned out by the rank
      // joins and must not be capped to the core count), and materialize
      // ONCE so the four span/paragraph consumers read the fanned-out
      // corpus instead of re-deriving (and re-shuffling) it.
      Tables.fanOut(joined, Tables.documents(s, dir))
        .transform(Tables.checkpoint)
    }

  /** #19e paragraph-level exact dedup: first corpus-wide occurrence of
    * every distinct paragraph survives, documents reassemble around the
    * survivors. Deterministic (min (doc, pos) election), so the cleaned
    * texts hash-check against DuckDB. */
  def paraDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.paragraphDedup(withParagraphCorpus(s, dir), "text", "doc_id")
      .orderBy("doc_id")

  /** #19f substring-level span overlap over the planted multi-paragraph
    * corpus: adjacent documents share one or two whole paragraphs (up to
    * ~600 contiguous chars), which must surface as pairs from the
    * content-sampled k-gram machinery. Selection is content-defined
    * (md5-prefix), so the DuckDB oracle reproduces the exact same
    * sample — the hash check is exact, not statistical. */
  def spanOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.spanOverlapPairsFromGrams(spanGrams(s, dir), "doc_id",
      minShared = 3, maxGramDf = 1000)
      .orderBy("doc_id_a", "doc_id_b")

  private val spanGramsCache = new Memo[DataFrame]

  /** The span family's content-defined k-gram sample (k=40, md5 prefix
    * "0") over the planted paragraph corpus, materialized once per
    * (session, dir): the per-window md5 scan is the dominant cost of all
    * three span queries, and without the memo each recomputed it. */
  def spanGrams(s: SparkSession, dir: String): DataFrame =
    spanGramsCache(s, dir)(
      Dedup.spanGramPositions(withParagraphCorpus(s, dir), "text", "doc_id",
          k = 40, selPrefix = "0")
        .transform(Tables.checkpoint))

  /** #19g per-document span-duplication profile over the same planted
    * corpus: middle documents are ~2/3 assembled from paragraphs that
    * also appear in their neighbors, so dup_ratio sits high corpus-wide
    * — and the content-defined sample makes the whole profile exact
    * under the DuckDB mirror. */
  def spanProfile(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDupProfileFromGrams(withParagraphCorpus(s, dir), "doc_id",
      spanGrams(s, dir))
      .orderBy("doc_id")

  /** #19h substring-level span REMOVAL over the same planted corpus:
    * the lag/lead-duplicated paragraphs must be scrubbed everywhere but
    * their first corpus-wide occurrence, at sampled-gram granularity.
    * Cut extents are deterministic functions of gram content, so the
    * rebuilt texts (not just counts) hash-check against DuckDB. */
  def spanRemove(s: SparkSession, dir: String): DataFrame =
    Dedup.spanRemoveFromGrams(withParagraphCorpus(s, dir), "text", "doc_id",
      k = 40, grams = spanGrams(s, dir))
      .orderBy("doc_id")

  /** #24b IVF ANN exhaustive-probe audit, driver-hash-checked: at
    * nprobe = nlist every cell is probed, so the output must equal
    * brute-force top-k EXACTLY — which holds iff the k-means cell
    * assignment is a partition of the corpus (a dropped vector loses a
    * true neighbor; a double-assigned one occupies two ranks) and the
    * probe ranking + exact re-rank are deterministic. The oracle is the
    * brute-force SQL. Realistic nprobe < nlist recall stays bounded in
    * SimilaritySpec. */
  def simAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    embIvfIndex(s, dir)
      .search(e.filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "embedding", 5, nprobe = 32)
      .orderBy("query_id", "rank")
  }

  // Build-once-search-many: the (nlist=32, seed=7) IVF index over the
  // embeddings corpus is identical for `sim_ann_ivf` and
  // `graph_pagerank_knn` — train the quantizer and cell-assign once
  // (timed as `_mat_ivf_index` in the bench). Same build parameters as
  // the previous per-query ivfTopK calls, so search outputs are
  // unchanged.
  private val ivfIdxCache = new Memo[graft.ops.IvfIndex]

  private[graft] def embIvfIndex(s: SparkSession, dir: String): graft.ops.IvfIndex =
    ivfIdxCache(s, dir)(
      graft.ops.IvfIndex.build(Tables.embeddings(s, dir), "vec_id", "embedding",
        nlist = 32, seed = 7L))

  /** Unit-normalized embeddings (inner product ranks like cosine). */
  private def unitEmbeddings(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"), expr(
      """transform(cast(embedding AS array<double>),
        |  x -> x / sqrt(aggregate(cast(embedding AS array<double>), 0D,
        |                          (a, e) -> a + e * e)))""".stripMargin)
      .as("uv"))

  /** Unit-normalized planted-mutation vectors (the PQ audit corpus). */
  private def unitMutations(s: SparkSession, dir: String): DataFrame =
    withVecMutations(s, dir).select(col("vec_id"), expr(
      """transform(cast(embedding AS array<double>),
        |  x -> x / sqrt(aggregate(cast(embedding AS array<double>), 0D,
        |                          (a, e) -> a + e * e)))""".stripMargin)
      .as("uv"))

  private val pqCache = new Memo[(graft.ops.Pq.PqModel, DataFrame)]

  /** Build-once PQ state per (session, dir) over the planted-mutation
    * corpus: codebooks + the encoded corpus, shared by the search
    * query, its containment audit, and the shape audit (each training
    * its own 8 k-means fits would double the bench cost and contradict
    * the build-once-search-many serving shape). */
  def pqState(s: SparkSession, dir: String): (graft.ops.Pq.PqModel, DataFrame) =
    pqCache(s, dir) {
      val unit = unitMutations(s, dir)
      // padShort: a degenerate corpus (fewer distinct subvectors than
      // k) pads the codebook instead of failing the whole query surface.
      val model = graft.ops.Pq.train(unit, "vec_id", "uv", m = 8, k = 16,
        seed = 7L, padShort = true)
      (model, graft.ops.Pq.encode(unit, "vec_id", "uv", model).transform(Tables.checkpoint))
    }

  private val ivfPqCache = new Memo[graft.ops.IvfPqIndex]

  /** Build-once IVF-PQ index per (session, dir), over the
    * planted-mutation corpus (the audit needs known high-cosine pairs). */
  def ivfPqIndex(s: SparkSession, dir: String): graft.ops.IvfPqIndex =
    ivfPqCache(s, dir)(
      graft.ops.Pq.buildIvfPq(withVecMutations(s, dir), "vec_id", "embedding",
        nlist = 16, m = 8, k = 16, seed = 7L))

  /** #24d composed IVF-PQ ANN recall containment, driver-hash-checked
    * (the residual-ADC twin of [[simAnnLsh]]): over the planted-mutation
    * vectors, every true top-5 neighbor at cosine ≥ 0.9 (the planted
    * ~0.93 pairs — the natural pair space tops out near 0.51) must
    * surface in the index's 100-candidate ADC recall set at exhaustive
    * probe. The Spark side semi-joins exact truth against the search
    * output while the oracle recomputes the full truth, so the hash
    * matches iff the cell assignment dropped no row AND the residual
    * quantization preserved the planted pairs' ~0.4 score margin over
    * the noise floor — an ADC error that large would mean broken codes,
    * not approximation. Realistic (nprobe < nlist) operating points
    * stay recall-bounded in SimilaritySpec; ADC exactness on a lossless
    * grid is spec-asserted. */
  def simAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = withVecMutations(s, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val idx = ivfPqIndex(s, dir)
    val cand = idx.search(q, "vec_id", "embedding", topK = 100, nprobe = idx.nlist)
      .select(col("query_id"), col("id").as("neighbor_id"))
    mutTruthTop5(s, dir)
      .join(cand, Seq("query_id", "neighbor_id"), "left_semi")
      .orderBy("query_id", "rank")
  }

  /** #24c PQ-compressed ANN recall containment, driver-hash-checked
    * (the pure-ADC sibling of [[simAnnIvfPq]]'s audit): every true
    * top-5 neighbor at cosine ≥ 0.9 over the planted-mutation corpus
    * must surface in the ADC top-100 — an m = 8 quantization error
    * large enough to bury the planted pairs' ~0.4 margin under the
    * noise floor would mean broken codes, not approximation. ADC
    * exactness on a lossless grid is spec-asserted. */
  def simAnnPq(s: SparkSession, dir: String): DataFrame = {
    val (model, codes) = pqState(s, dir)
    val cand = graft.ops.Pq.searchAdc(
        unitMutations(s, dir).filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "uv", codes, "vec_id", model, topK = 100)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    mutTruthTop5(s, dir)
      .join(cand, Seq("query_id", "neighbor_id"), "left_semi")
      .orderBy("query_id", "rank")
  }

  /** #24c' PQ code-table shape, driver-hash-checked: every corpus
    * vector encodes to exactly m in-range codes. */
  def simAnnPqShape(s: SparkSession, dir: String): DataFrame = {
    val (_, codes) = pqState(s, dir)
    codes.agg(
      count(lit(1)).as("n_codes"),
      min(size(col("codes"))).as("code_len_min"),
      max(size(col("codes"))).as("code_len_max"),
      (min(array_min(col("codes"))) >= 0 &&
        max(array_max(col("codes"))) <= 15).as("codes_in_range"))
  }

  private val lifecycleCache = new Memo[DataFrame]

  /** #24e ANN index lifecycle, driver-hash-checked end to end: build the
    * IVF index on two thirds of the corpus, [[graft.ops.IvfIndex.add]]
    * the remaining third against the frozen quantizer, save, load back,
    * and search at exhaustive probe — which must equal brute force over
    * the WHOLE corpus exactly (the sim_ann_ivf argument), proving the
    * incremental add left a true partition behind and the round trip
    * lost nothing. Memoized + scratch-cleaned. */
  def annIndexLifecycle(s: SparkSession, dir: String): DataFrame =
    lifecycleCache(s, dir)(Scratch.cleaned("graft_ivf") { tmp =>
      val e = Tables.embeddings(s, dir)
      val idx = graft.ops.IvfIndex
        .build(e.filter(pmod(col("vec_id"), lit(3)) =!= 0), "vec_id", "embedding",
          nlist = 16, seed = 7L)
        .add(e.filter(pmod(col("vec_id"), lit(3)) === 0), "vec_id", "embedding")
      idx.save(tmp.toString)
      graft.ops.IvfIndex.load(s, tmp.toString)
        .search(e.filter(pmod(col("vec_id"), lit(50)) === 0),
          "vec_id", "embedding", 5, nprobe = 16)
        .orderBy("query_id", "rank")
    })

  /** #51 per-label embedding centroids (element-wise mean pooling),
    * emitted long-form (label, dim, v) so the compare sees plain
    * doubles. */
  def vecMeanPool(s: SparkSession, dir: String): DataFrame =
    graft.ops.Vectors.meanPool(Tables.embeddings(s, dir), "label", "embedding")
      .select(col("label"), posexplode(col("mean_vec")))
      .select(col("label"), col("pos").as("dim"), round(col("col"), 6).as("v"))
      .orderBy("label", "dim")

  /** #23c per-label cluster quality: within-label sum of squared
    * distances to the label centroid (inertia) — the k-means objective
    * evaluated on the given labels, the readout that says whether the
    * label column actually clusters the embedding space. One
    * dimension-exploded pass for centroids, one join back for the SSE. */
  def labelInertia(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")))
      .select(col("label"), col("vec_id"), col("pos").as("dim"),
        col("col").cast("double").as("x"))
    val cent = e.groupBy("label", "dim").agg(avg("x").as("c"))
    e.join(cent, Seq("label", "dim"))
      .groupBy("label")
      .agg(countDistinct("vec_id").as("n_vecs"),
        round(sum(pow(col("x") - col("c"), 2)), 6).as("sse"))
      .withColumn("avg_sse", round(col("sse") / col("n_vecs"), 6))
      .orderBy("label")
  }

  /** #51f deterministic Lloyd's k-means over the embedding corpus
    * ([[graft.ops.KMeans]]): hash-ranked seeds, two full assign+update
    * rounds, final assignment emitted with its rounded squared distance.
    * The oracle unrolls the identical iteration in SQL — seeds, distance
    * formula, FP accumulation order, argmin ties, and the 6-dp centroid
    * rounding all match by construction. */
  private val kmeansCache = new Memo[graft.ops.KMeans.Centroids]

  /** The fitted k=4 / 2-round centroid table, memoized per (session,
    * dir): assignment and silhouette are two consumers of one fit. */
  private def kmeansCents(s: SparkSession, dir: String): graft.ops.KMeans.Centroids =
    kmeansCache(s, dir)(
      graft.ops.KMeans.fit(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 4, iters = 2))

  def kmeansEmbed(s: SparkSession, dir: String): DataFrame =
    graft.ops.KMeans
      .assign(Tables.embeddings(s, dir), "vec_id", "embedding", kmeansCents(s, dir))
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  /** #51g clustering-quality readout: per-cluster simplified silhouette
    * of the fitted k-means ([[graft.ops.KMeans.silhouette]]) — k
    * distances per point, no pairwise point-point work. */
  def kmeansSilhouette(s: SparkSession, dir: String): DataFrame =
    graft.ops.KMeans
      .silhouette(Tables.embeddings(s, dir), "vec_id", "embedding", kmeansCents(s, dir))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"), round(avg("s"), 6).as("mean_s"))
      .orderBy("cluster")

  /** #19t cross-source duplication matrix: the near-dup pair list
    * attributed to (source, source) cells — who re-posts whom, the
    * between-feeds sibling of the within-source dup-rate report.
    * Mutated ids map back to their original document's source. */
  def dedupCrossSource(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    ngramPairs(s, dir)
      .withColumn("oa", col("doc_id_a") % 1000000)
      .withColumn("ob", col("doc_id_b") % 1000000)
      .join(broadcast(src.select(col("doc_id").as("oa"), col("source").as("sa"))), "oa")
      .join(broadcast(src.select(col("doc_id").as("ob"), col("source").as("sb"))), "ob")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** #23f exact kNN majority-vote classifier: every 5th vector is the
    * held-out query set, classified from its 5 nearest labeled neighbors
    * (squared-euclidean, round-6; neighbor ties to the lower id, vote
    * ties to the lower label). Neighbor selection rides the custom
    * bounded-heap top-k operator ([[graft.plans.Graft.topKPerGroup]]) —
    * the n_q × n_corpus product is heap-reduced per partition, never
    * fully sorted. Scale shape: the query batch broadcasts; the corpus
    * streams through one narrow scoring pass. */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val queries = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val corpus = e.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("label"))
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col("nid"), col("label"),
        round(Similarity.dot(col("nv"), col("nv"))
          - lit(2.0) * Similarity.dot(col("nv"), col("qv"))
          + Similarity.dot(col("qv"), col("qv")), 6).as("d2"))
    val top5 = graft.plans.Graft.topKPerGroup(
      scored, Seq("qid"), "d2", 5, descending = false, tiebreak = Seq("nid"))
    val votes = top5.groupBy("qid", "label").agg(count(lit(1)).as("votes"))
    import org.apache.spark.sql.expressions.Window
    votes
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("votes").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("qid").as("vec_id"), col("label").as("pred_label"), col("votes"))
      .orderBy("vec_id")
  }

  /** #23g nearest-centroid (Rocchio) classifier confusion matrix
    * ([[graft.ops.Classify.centroidConfusion]]): the one-centroid-per-
    * label companion to [[knnClassify]] — same hash split (vec_id % 5),
    * quantized exact-integer centroid sums, deterministic argmin from
    * integer-derived distances, |labels|-row broadcast scoring. */
  def centroidClassify(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.ops.Classify.centroidConfusion(
        e.filter(col("vec_id") % 5 =!= 0), e.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", "label")
      .orderBy("label_true", "label_pred")
  }

  /** #23h Johnson-Lindenstrauss sign-projection distortion audit
    * ([[graft.ops.Projection.distortionAudit]]): 64 → 16 dims through
    * the deterministic md5-parity ±1 matrix, with exact integer
    * squared distances in both spaces for every sampled pair and the
    * per-pair distortion ratio the JL lemma bounds near 1 — the
    * certificate a pipeline checks before switching its ANN index to
    * the projected space. */
  def jlDistortion(s: SparkSession, dir: String): DataFrame =
    graft.ops.Projection.distortionAudit(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        d = 64, k = 16, sampleMod = 20)
      .orderBy("a_id", "b_id")

  /** #19u Jaro-Winkler ER scoring over sorted-neighborhood blocks: the
    * native codegen'd [[graft.functions.JaroWinklerSim]] scored against
    * DuckDB's INDEPENDENT `jaro_winkler_similarity` implementation —
    * two unrelated codebases must agree digit-for-digit on every
    * blocked pair. Keys are lowercased, non-[a-z ] stripped, 30-char
    * prefixes; same lead-window blocking as `dedup_sorted_nbhd`. */
  def erJaro(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.register(s)
    val keyed = withMutations(s, dir)
      .select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z ]", ""), 1, 30)
          .as("skey"))
    val w = Window.partitionBy(substring(col("skey"), 1, 2))
      .orderBy(col("skey"), col("doc_id"))
    val o = keyed.select(col("doc_id"), col("skey"),
      lead(col("doc_id"), 1).over(w).as("n1"), lead(col("skey"), 1).over(w).as("k1"),
      lead(col("doc_id"), 2).over(w).as("n2"), lead(col("skey"), 2).over(w).as("k2"))
    val scored = (1 to 2).map { k =>
      o.filter(col(s"n$k").isNotNull)
        .select(
          least(col("doc_id"), col(s"n$k")).as("doc_id_a"),
          greatest(col("doc_id"), col(s"n$k")).as("doc_id_b"),
          round(graft.functions.jaro_winkler(col("skey"), col(s"k$k")), 6).as("jw"))
    }.reduce(_ unionAll _)
    scored.distinct()
      .filter(col("jw") >= 0.85)
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** #19u' true Damerau-Levenshtein ER scoring over the same
    * sorted-neighborhood blocks as `er_jaro`: the native codegen'd
    * [[graft.functions.DamerauLevenshtein]] (Lowrance-Wagner,
    * unrestricted transpositions) against DuckDB's INDEPENDENT
    * `damerau_levenshtein` — integer distances must agree exactly on
    * every blocked pair. */
  def erDamerau(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.register(s)
    val keyed = withMutations(s, dir)
      .select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z ]", ""), 1, 30)
          .as("skey"))
    val w = Window.partitionBy(substring(col("skey"), 1, 2))
      .orderBy(col("skey"), col("doc_id"))
    val o = keyed.select(col("doc_id"), col("skey"),
      lead(col("doc_id"), 1).over(w).as("n1"), lead(col("skey"), 1).over(w).as("k1"),
      lead(col("doc_id"), 2).over(w).as("n2"), lead(col("skey"), 2).over(w).as("k2"))
    val scored = (1 to 2).map { k =>
      o.filter(col(s"n$k").isNotNull)
        .select(
          least(col("doc_id"), col(s"n$k")).as("doc_id_a"),
          greatest(col("doc_id"), col(s"n$k")).as("doc_id_b"),
          graft.functions.damerau_levenshtein(col("skey"), col(s"k$k")).as("dl"))
    }.reduce(_ unionAll _)
    scored.distinct()
      .filter(col("dl") <= 8)
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** Power by squaring as an EXPRESSION STRING — the same text parses
    * in both Spark (`expr`) and DuckDB, so s^r and (1−s^r)^b evaluate
    * through identical IEEE multiplication trees in engine and oracle
    * (library `pow` is NOT cross-engine reproducible at the last ulp;
    * an explicit chain is). */
  private def powChain(e: String, n: Int): String =
    if (n == 1) e
    else { val h = powChain(e, n / 2); s"($h * $h)" }

  private val srCase =
    s"CASE r WHEN 1 THEN sim WHEN 2 THEN ${powChain("sim", 2)} " +
      s"WHEN 4 THEN ${powChain("sim", 4)} ELSE ${powChain("sim", 8)} END"
  private val qbCase =
    s"CASE b WHEN 4 THEN ${powChain("q", 4)} WHEN 8 THEN ${powChain("q", 8)} " +
      s"WHEN 16 THEN ${powChain("q", 16)} ELSE ${powChain("q", 32)} END"

  /** #19aa harmonic centrality within 3 hops on the 0.35-cosine
    * graph: Σ 1/d over the 1-, 2-, and 3-hop neighborhoods — the
    * bounded-radius form that keeps the classic closeness-family
    * centrality computable by three frontier joins (hop sets deduped
    * and differenced per hop, the BFS discipline) instead of
    * all-pairs shortest paths. Reciprocals enter as exact integer
    * micro-weights (10⁶, 5·10⁵, 333333), summed exactly. */
  def graphHarmonic(s: SparkSession, dir: String): DataFrame = {
    val e = bandedCosinePairs(s, dir, 0.35)
      .select(col("vec_id_a").as("a"), col("vec_id_b").as("b"))
    val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .transform(Tables.checkpoint)
    val d2 = sym.as("x").join(sym.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("a"), col("y.b").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .join(sym, Seq("a", "b"), "left_anti")
      .transform(Tables.checkpoint)
    val d3 = d2.as("x").join(sym.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("a"), col("y.b").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .join(sym, Seq("a", "b"), "left_anti")
      .join(d2, Seq("a", "b"), "left_anti")
    val c1 = sym.groupBy("a").agg(count(lit(1)).as("n1"))
    val c2 = d2.groupBy("a").agg(count(lit(1)).as("n2"))
    val c3 = d3.groupBy("a").agg(count(lit(1)).as("n3"))
    c1.join(c2, Seq("a"), "left").join(c3, Seq("a"), "left")
      .select(col("a").as("vec_id"), col("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("n3"), lit(0L)).as("n3"))
      .withColumn("harmonic", round(
        (col("n1") * 1000000L + col("n2") * 500000L + col("n3") * 333333L)
          / 1000000.0, 6))
      .orderBy("vec_id")
  }

  /** #19z blocking-quality audit: reduction ratio and pair
    * completeness (the two standard ER blocking metrics, Christen
    * 2012) for three candidate blocking schemes over the
    * planted-mutation corpus — prefix-40 key, 50-char length band,
    * and their compound. Candidate counts come from block SIZES
    * (Σ C(n_b,2), never an enumerated pair list), and completeness
    * joins each original to its known mutant to test key agreement —
    * both exact integer computations, so the advisor scales to any
    * corpus: it's the table you consult BEFORE running the quadratic
    * join. */
  def blockingAudit(s: SparkSession, dir: String): DataFrame = {
    val corpus = withMutations(s, dir)
    val keyed = corpus.select(col("doc_id"), col("text"),
      substring(col("text"), 1, 40).as("k_prefix"),
      expr("length(text) div 50").cast("long").as("k_band"))
    val n = keyed.count()
    val allPairs = n * (n - 1) / 2
    val truth = keyed.filter(col("doc_id") < 1000000)
      .join(keyed.filter(col("doc_id") >= 1000000)
          .select((col("doc_id") - 1000000).as("doc_id"),
            col("k_prefix").as("mp"), col("k_band").as("mb")),
        "doc_id")
    val nTruth = truth.count()
    def scheme(name: String, keys: Seq[Column], captured: Column): DataFrame = {
      val sizes = keyed.groupBy(keys: _*).agg(count(lit(1)).as("nb"))
      val cand = sizes.agg(
        count(lit(1)).as("n_blocks"),
        sum(expr("nb * (nb - 1) div 2")).as("n_candidates"))
      val cap = truth.agg(sum(when(captured, 1L).otherwise(0L)).as("n_captured"))
      cand.crossJoin(broadcast(cap))
        .select(lit(name).as("scheme"), col("n_blocks"), col("n_candidates"),
          lit(nTruth).as("n_truth"), col("n_captured"),
          round(lit(1.0) - col("n_candidates") / lit(allPairs.toDouble), 6)
            .as("reduction_ratio"),
          round(col("n_captured") / lit(nTruth.toDouble), 6).as("completeness"))
    }
    scheme("prefix40", Seq(col("k_prefix")), col("k_prefix") === col("mp"))
      .unionAll(scheme("lenband50", Seq(col("k_band")), col("k_band") === col("mb")))
      .unionAll(scheme("compound", Seq(col("k_prefix"), col("k_band")),
        col("k_prefix") === col("mp") && col("k_band") === col("mb")))
      .orderBy("scheme")
  }

  /** #20c MinHash-LSH band planner: integrate the S-curve
    * P[candidate] = 1 − (1 − s^r)^b over the OBSERVED pair-similarity
    * distribution for a 16-cell (rows-per-band × bands) grid — the
    * "which (r, b) do I run MinHash with" advisor that turns the
    * textbook threshold formula into expected recall (of ≥ 0.7 true
    * pairs) and expected sub-threshold candidate load on THIS corpus.
    * Per-pair probabilities round to integer ppm before the exact sum
    * (round-then-sum); powers evaluate by pinned squaring chains, not
    * library pow. The pair list is the blocked, df-capped Jaccard
    * join the dedup family already materializes once. */
  def lshPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grid = Seq(1, 2, 4, 8).flatMap(r => Seq(4, 8, 16, 32).map(b => (r, b)))
      .toDF("r", "b")
    ngramPairs(s, dir).select(col("jaccard").as("sim"))
      .crossJoin(broadcast(grid))
      .withColumn("q", lit(1.0) - expr(srCase))
      .withColumn("p_ppm",
        round((lit(1.0) - expr(qbCase)) * 1000000, 0).cast("long"))
      .groupBy("r", "b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("sim") >= 0.7, 1L).otherwise(0L)).as("n_true"),
        sum(when(col("sim") >= 0.7, col("p_ppm")).otherwise(0L)).as("exp_tp_ppm"),
        sum(when(col("sim") < 0.7, col("p_ppm")).otherwise(0L)).as("exp_fp_ppm"))
      .select(col("r"), col("b"), col("n_pairs"), col("n_true"),
        col("exp_tp_ppm"), col("exp_fp_ppm"),
        when(col("n_true") === 0, lit(0.0))
          .otherwise(round(col("exp_tp_ppm") / (col("n_true") * 1000000.0), 6))
          .as("exp_recall"),
        when(col("n_pairs") === col("n_true"), lit(0.0))
          .otherwise(round(col("exp_fp_ppm")
            / ((col("n_pairs") - col("n_true")) * 1000000.0), 6))
          .as("exp_fp_rate"))
      .orderBy("r", "b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lsh_plan"            -> (lshPlan _),
    "blocking_audit"      -> (blockingAudit _),
    "graph_harmonic"      -> (graphHarmonic _),
    "er_jaro"             -> (erJaro _),
    "er_damerau"          -> (erDamerau _),
    "vec_mean_pool"       -> (vecMeanPool _),
    "label_inertia"       -> (labelInertia _),
    "kmeans_embed"        -> (kmeansEmbed _),
    "kmeans_silhouette"   -> (kmeansSilhouette _),
    "knn_classify"        -> (knnClassify _),
    "centroid_classify"   -> (centroidClassify _),
    "jl_distortion"       -> (jlDistortion _),
    "dedup_cross_source"  -> (dedupCrossSource _),
    "sim_ann_pq"          -> (simAnnPq _),
    "sim_ann_pq_shape"    -> (simAnnPqShape _),
    "sim_ann_ivfpq"       -> (simAnnIvfPq _),
    "sim_ann_ivf"         -> (simAnnIvf _),
    "ann_index_lifecycle" -> (annIndexLifecycle _),
    "dedup_clusters"      -> (dedupClusters _),
    "dedup_keep"          -> (dedupKeep _),
    "split_leakfree"      -> (splitLeakfree _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_prefix_filter" -> (dedupPrefixFilter _),
    "dedup_containment"   -> (dedupContainment _),
    "graph_triangles"     -> (graphTriangles _),
    "graph_clustering"    -> (graphClustering _),
    "dedup_sorted_nbhd"   -> (dedupSortedNbhd _),
    "dedup_minhash"       -> (dedupMinhash _),
    "dedup_minhash_containment" -> (dedupMinhashContainment _),
    "dedup_keep_best"     -> (dedupKeepBest _),
    "dedup_embedding_clusters" -> (dedupEmbeddingClusters _),
    "dbscan_embed"        -> (dbscanEmbed _),
    "dedup_pr"            -> (dedupPr _),
    "emb_triplet_audit"   -> (embTripletAudit _),
    "dedup_simhash"       -> (dedupSimhash _),
    "dedup_simhash_containment" -> (dedupSimhashContainment _),
    "dedup_embedding"     -> (dedupEmbedding _),
    "graph_pagerank"      -> (graphPagerank _),
    "graph_pagerank_knn"  -> (graphPagerankKnn _),
    "graph_bfs"           -> (graphBfs _),
    "dedup_cluster_sizes" -> (dedupClusterSizes _),
    "dedup_survivorship"  -> (dedupSurvivorship _),
    "sim_hamming"         -> (simHamming _),
    "pair_edit_distance"  -> (pairEditDistance _),
    "para_dedup"          -> (paraDedup _),
    "span_overlap"        -> (spanOverlap _),
    "span_profile"        -> (spanProfile _),
    "span_remove"         -> (spanRemove _),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh _),
    "sim_bruteforce_topk" -> (simBruteforceTopK _),
    "sim_ann_lsh"         -> (simAnnLsh _),
  )

  /** The k-means oracle unrolls KMeans' two Lloyd rounds as CTE pairs:
    * every arithmetic detail (seed order, d2 formula and its FP
    * evaluation order, round-6 discipline, argmin/centroid-drop
    * semantics) mirrors [[graft.ops.KMeans]] exactly. */
  private val kmeansOracleSql: String = kmeansPrefixSql +
    s",\n${kmeansAssignCte("a3", "c2")}\n" +
    "SELECT id AS vec_id, cluster, d2 FROM a3 ORDER BY vec_id"

  /** Silhouette over the same unrolled fit: d2 of every (point,
    * centroid) pair from c2, own = argmin, b = min over the others. */
  private val kmeansSilhouetteSql: String = kmeansPrefixSql +
    """, dall AS (
      |  SELECT e.id, c2.c AS cluster,
      |    round(e.vv - 2 * list_inner_product(e.v, c2.cv)
      |      + list_inner_product(c2.cv, c2.cv), 6) AS d2
      |  FROM e CROSS JOIN c2
      |), own AS (
      |  SELECT id, cluster, d2 AS a FROM (
      |    SELECT dall.*, row_number() OVER (PARTITION BY id
      |      ORDER BY d2, cluster) AS rn FROM dall
      |  ) WHERE rn = 1
      |), sil AS (
      |  SELECT own.id, own.cluster, own.a, min(dall.d2) AS b
      |  FROM own JOIN dall ON dall.id = own.id AND dall.cluster <> own.cluster
      |  GROUP BY 1, 2, 3
      |)
      |SELECT cluster, count(*) AS n_points,
      |  round(avg(CASE WHEN greatest(a, b) <= 0 THEN 0
      |                 ELSE round((b - a) / greatest(a, b), 6) END), 6) AS mean_s
      |FROM sil GROUP BY 1 ORDER BY cluster""".stripMargin

  private def kmeansAssignCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT id, v, vv, c AS cluster, d2 FROM (
         |    SELECT e.id, e.v, e.vv, $cents.c,
         |      round(e.vv - 2 * list_inner_product(e.v, $cents.cv)
         |        + list_inner_product($cents.cv, $cents.cv), 6) AS d2,
         |      row_number() OVER (PARTITION BY e.id ORDER BY
         |        round(e.vv - 2 * list_inner_product(e.v, $cents.cv)
         |          + list_inner_product($cents.cv, $cents.cv), 6), $cents.c) AS rn
         |    FROM e CROSS JOIN $cents
         |  ) WHERE rn = 1
         |)""".stripMargin
  private def kmeansUpdateCte(name: String, assigned: String) =
      s"""$name AS (
         |  SELECT cluster AS c, list(x ORDER BY dim) AS cv FROM (
         |    SELECT $assigned.cluster, g.i - 1 AS dim,
         |      round(avg($assigned.v[g.i]), 6) AS x
         |    FROM $assigned,
         |      LATERAL (SELECT unnest(generate_series(1, len($assigned.v))) AS i) g
         |    GROUP BY 1, 2
         |  ) GROUP BY 1
         |)""".stripMargin

  /** Shared unrolled fit: seeds (c0) + two full Lloyd rounds → c2. */
  private def kmeansPrefixSql: String =
    s"""WITH e AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
       |    list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv
       |  FROM embeddings
       |), c0 AS (
       |  SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 AS c, v AS cv
       |  FROM e QUALIFY row_number() OVER (ORDER BY md5(id::VARCHAR), id) <= 4
       |),
       |${kmeansAssignCte("a1", "c0")},
       |${kmeansUpdateCte("c1", "a1")},
       |${kmeansAssignCte("a2", "c1")},
       |${kmeansUpdateCte("c2", "a2")}""".stripMargin

  val oracles: Map[String, String] = Map(
    // Exact pair-set tallies: the detector CTEs repeat the ngram-pair
    // oracle verbatim; truth is the planted (d, d+1e6) list.
    "dedup_pr" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 40, 1))
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM corpus
        |), sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, array_to_string(t[j:j+2], ' ') AS shingle
        |    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS j FROM toks WHERE len(t) >= 3)
        |  )
        |), cold AS (
        |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10
        |), kept AS (
        |  SELECT sh.doc_id, sh.shingle FROM sh JOIN cold USING (shingle)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS pa, b.doc_id AS pb
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN sizes sa ON sa.doc_id = a.doc_id
        |  JOIN sizes sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING count(*)::DOUBLE / (max(sa.sz) + max(sb.sz) - count(*)) >= 0.6
        |), truth AS (
        |  SELECT doc_id AS pa, doc_id + 1000000 AS pb FROM documents
        |), g AS (
        |  SELECT
        |    (SELECT count(*) FROM pairs p JOIN truth t ON p.pa = t.pa AND p.pb = t.pb)::BIGINT AS tp,
        |    (SELECT count(*) FROM pairs)::BIGINT AS n_cand,
        |    (SELECT count(*) FROM truth)::BIGINT AS n_truth
        |)
        |SELECT tp, n_cand, n_truth,
        |  CASE WHEN n_cand > 0 THEN
        |    round(CAST(tp AS DOUBLE)/n_cand, 6) END AS precision,
        |  CASE WHEN n_truth > 0 THEN
        |    round(CAST(tp AS DOUBLE)/n_truth, 6) END AS recall
        |FROM g""".stripMargin,
    // Same single-chain cosines; hardest negative is a max over an
    // identical pair set; margins nano-round before the mean.
    "emb_triplet_audit" ->
      """WITH e AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings
        |  WHERE sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
        |), mv AS (
        |  SELECT id, v, nrm, v[1:56] || [0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0] AS mv
        |  FROM e
        |), mut AS (
        |  SELECT id,
        |    list_inner_product(v, mv)/(nrm*sqrt(list_inner_product(mv, mv))) AS pos
        |  FROM mv WHERE sqrt(list_inner_product(mv, mv)) > 0
        |), hard AS (
        |  SELECT a.id, max(list_inner_product(a.v, b.v)/(a.nrm*b.nrm)) AS maxneg
        |  FROM e a JOIN e b ON a.id <> b.id GROUP BY 1
        |), t AS (
        |  SELECT m.pos - h.maxneg AS margin FROM mut m JOIN hard h ON m.id = h.id
        |)
        |SELECT count(*)::BIGINT AS n_triplets,
        |  sum(CASE WHEN margin < 0.1 THEN 1 ELSE 0 END)::BIGINT AS n_violations,
        |  round(min(margin), 6) AS min_margin,
        |  round(sum(CAST(round(margin*1e9) AS BIGINT))/1e9/count(*), 6) AS mean_margin
        |FROM t""".stripMargin,
    // Exact reach closure over the core-core graph (self-edges keep
    // singleton cores); border/noise elections are integer min/counts.
    "dbscan_embed" ->
      """WITH RECURSIVE base AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), fam AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL SELECT vec_id + 1000000,
        |    v[1:56] || [0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0] FROM base WHERE vec_id % 5 = 0
        |  UNION ALL SELECT vec_id + 2000000,
        |    [0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0] || v[9:64] FROM base WHERE vec_id % 5 = 0
        |  UNION ALL SELECT vec_id + 3000000,
        |    v[1:28] || [0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0] || v[37:64]
        |  FROM base WHERE vec_id % 5 = 0
        |  UNION ALL SELECT vec_id + 1000000,
        |    v[1:56] || [0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0] FROM base WHERE vec_id % 5 = 1
        |), e AS (
        |  SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM fam
        |), pr AS (
        |  SELECT a.vec_id AS s, b.vec_id AS t
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0
        |    AND list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9
        |), sym AS (SELECT s AS a, t AS b FROM pr UNION ALL SELECT t, s FROM pr),
        |core AS (
        |  SELECT a AS id FROM (SELECT a, count(*) AS d FROM sym GROUP BY 1)
        |  WHERE d >= 3
        |), edges AS (
        |  SELECT sym.a, sym.b FROM sym
        |  JOIN core ca ON sym.a = ca.id JOIN core cb ON sym.b = cb.id
        |  UNION SELECT id, id FROM core
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
        |), lab AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
        |border AS (
        |  SELECT sym.a AS vec_id, min(lab.cluster) AS cluster
        |  FROM sym JOIN lab ON sym.b = lab.id
        |  WHERE sym.a NOT IN (SELECT id FROM core)
        |  GROUP BY 1
        |)
        |SELECT f.vec_id,
        |  CASE WHEN cl.id IS NOT NULL THEN 'core'
        |       WHEN bo.vec_id IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  coalesce(cl.cluster, bo.cluster) AS cluster
        |FROM fam f
        |LEFT JOIN lab cl ON f.vec_id = cl.id
        |LEFT JOIN border bo ON f.vec_id = bo.vec_id
        |ORDER BY f.vec_id""".stripMargin,
    // Hop sets deduped and differenced exactly as the engine's frontier
    // joins; reciprocals are integer micro-weights summed exactly.
    "graph_harmonic" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM embeddings
        |), pr AS (
        |  SELECT a.vec_id AS s, b.vec_id AS t
        |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |  WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
        |), sym AS (
        |  SELECT s AS a, t AS b FROM pr UNION ALL SELECT t AS a, s AS b FROM pr
        |), d2 AS (
        |  SELECT DISTINCT x.a, y.b FROM sym x JOIN sym y ON x.b = y.a
        |  WHERE x.a <> y.b
        |    AND NOT EXISTS (SELECT 1 FROM sym s WHERE s.a = x.a AND s.b = y.b)
        |), d3 AS (
        |  SELECT DISTINCT x.a, y.b FROM d2 x JOIN sym y ON x.b = y.a
        |  WHERE x.a <> y.b
        |    AND NOT EXISTS (SELECT 1 FROM sym s WHERE s.a = x.a AND s.b = y.b)
        |    AND NOT EXISTS (SELECT 1 FROM d2 s WHERE s.a = x.a AND s.b = y.b)
        |), c1 AS (SELECT a, count(*)::BIGINT AS n1 FROM sym GROUP BY 1),
        |c2 AS (SELECT a, count(*)::BIGINT AS n2 FROM d2 GROUP BY 1),
        |c3 AS (SELECT a, count(*)::BIGINT AS n3 FROM d3 GROUP BY 1)
        |SELECT c1.a AS vec_id, c1.n1,
        |  coalesce(c2.n2, 0)::BIGINT AS n2, coalesce(c3.n3, 0)::BIGINT AS n3,
        |  round((c1.n1 * 1000000 + coalesce(c2.n2, 0) * 500000
        |    + coalesce(c3.n3, 0) * 333333) / 1000000.0, 6) AS harmonic
        |FROM c1 LEFT JOIN c2 USING (a) LEFT JOIN c3 USING (a)
        |ORDER BY vec_id""".stripMargin,
    // Candidate counts from block sizes (sum of C(nb,2)); completeness
    // from original-mutant key agreement; exact integers throughout.
    "blocking_audit" -> {
      def sc(name: String, key: String, cap: String): String =
        s"""SELECT '$name' AS scheme, n_blocks, n_candidates,
           |  (SELECT n_truth FROM nt) AS n_truth, n_captured,
           |  round(1.0 - n_candidates / (((SELECT n FROM nn)
           |    * ((SELECT n FROM nn) - 1) // 2))::DOUBLE, 6) AS reduction_ratio,
           |  round(n_captured / (SELECT n_truth FROM nt)::DOUBLE, 6)
           |    AS completeness
           |FROM (SELECT count(*)::BIGINT AS n_blocks,
           |    sum(nb * (nb - 1) // 2)::BIGINT AS n_candidates
           |  FROM (SELECT count(*)::BIGINT AS nb FROM keyed GROUP BY $key)),
           |  (SELECT sum(CASE WHEN $cap THEN 1 ELSE 0 END)::BIGINT
           |    AS n_captured FROM truth)""".stripMargin
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |    substring(text, 1, greatest(length(text) - 40, 1))
         |  FROM documents
         |), keyed AS (
         |  SELECT doc_id, substring(text, 1, 40) AS k_prefix,
         |    length(text) // 50 AS k_band
         |  FROM corpus
         |), nn AS (SELECT count(*)::BIGINT AS n FROM keyed),
         |truth AS (
         |  SELECT o.doc_id, o.k_prefix, o.k_band,
         |    m.k_prefix AS mp, m.k_band AS mb
         |  FROM keyed o JOIN keyed m ON m.doc_id = o.doc_id + 1000000
         |  WHERE o.doc_id < 1000000
         |), nt AS (SELECT count(*)::BIGINT AS n_truth FROM truth)
         |${sc("prefix40", "k_prefix", "k_prefix = mp")}
         |UNION ALL
         |${sc("lenband50", "k_band", "k_band = mb")}
         |UNION ALL
         |${sc("compound", "k_prefix, k_band", "k_prefix = mp AND k_band = mb")}
         |ORDER BY scheme""".stripMargin
    },
    // Same squaring-chain expression text as the engine (powChain), so
    // the S-curve doubles are bit-identical; probabilities round to ppm
    // integers before the exact sums.
    "lsh_plan" -> {
      val truth = ngramTruthSql(Some(10))
      s"""WITH pairs AS (
$truth
), g AS (
  SELECT r, b FROM (VALUES (1), (2), (4), (8)) AS rr(r),
    (VALUES (4), (8), (16), (32)) AS bb(b)
), t AS (
  SELECT g.r, g.b, p.jaccard AS sim FROM pairs p CROSS JOIN g
), t2 AS (
  SELECT r, b, sim, 1.0 - ($srCase) AS q FROM t
), t3 AS (
  SELECT r, b, sim,
    CAST(round((1.0 - ($qbCase)) * 1000000, 0) AS BIGINT) AS p_ppm
  FROM t2
), agg AS (
  SELECT r, b, count(*)::BIGINT AS n_pairs,
    sum(CASE WHEN sim >= 0.7 THEN 1 ELSE 0 END)::BIGINT AS n_true,
    sum(CASE WHEN sim >= 0.7 THEN p_ppm ELSE 0 END)::BIGINT AS exp_tp_ppm,
    sum(CASE WHEN sim < 0.7 THEN p_ppm ELSE 0 END)::BIGINT AS exp_fp_ppm
  FROM t3 GROUP BY 1, 2
)
SELECT r, b, n_pairs, n_true, exp_tp_ppm, exp_fp_ppm,
  CASE WHEN n_true = 0 THEN 0.0
    ELSE round(exp_tp_ppm / (n_true * 1000000.0), 6) END AS exp_recall,
  CASE WHEN n_pairs = n_true THEN 0.0
    ELSE round(exp_fp_ppm / ((n_pairs - n_true) * 1000000.0), 6)
  END AS exp_fp_rate
FROM agg ORDER BY r, b""" },
    // DuckDB's own jaro_winkler_similarity — an implementation the
    // engine shares no code with — must agree on every blocked pair.
    "er_jaro" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 40, 1))
        |  FROM documents
        |), keyed AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 30) AS skey
        |  FROM corpus
        |), o AS (
        |  SELECT doc_id, skey,
        |    lead(doc_id, 1) OVER w AS n1, lead(skey, 1) OVER w AS k1,
        |    lead(doc_id, 2) OVER w AS n2, lead(skey, 2) OVER w AS k2
        |  FROM keyed WINDOW w AS (PARTITION BY substr(skey, 1, 2) ORDER BY skey, doc_id)
        |), p AS (
        |  SELECT least(doc_id, n1) AS doc_id_a, greatest(doc_id, n1) AS doc_id_b,
        |    round(jaro_winkler_similarity(skey, k1), 6) AS jw
        |  FROM o WHERE n1 IS NOT NULL
        |  UNION ALL
        |  SELECT least(doc_id, n2), greatest(doc_id, n2),
        |    round(jaro_winkler_similarity(skey, k2), 6)
        |  FROM o WHERE n2 IS NOT NULL
        |)
        |SELECT DISTINCT doc_id_a, doc_id_b, jw FROM p
        |WHERE jw >= 0.85 ORDER BY doc_id_a, doc_id_b""".stripMargin,
    // DuckDB's own damerau_levenshtein (true/unrestricted variant) —
    // exact integer agreement on every blocked pair.
    "er_damerau" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 40, 1))
        |  FROM documents
        |), keyed AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 30) AS skey
        |  FROM corpus
        |), o AS (
        |  SELECT doc_id, skey,
        |    lead(doc_id, 1) OVER w AS n1, lead(skey, 1) OVER w AS k1,
        |    lead(doc_id, 2) OVER w AS n2, lead(skey, 2) OVER w AS k2
        |  FROM keyed WINDOW w AS (PARTITION BY substr(skey, 1, 2) ORDER BY skey, doc_id)
        |), p AS (
        |  SELECT least(doc_id, n1) AS doc_id_a, greatest(doc_id, n1) AS doc_id_b,
        |    damerau_levenshtein(skey, k1)::INT AS dl
        |  FROM o WHERE n1 IS NOT NULL
        |  UNION ALL
        |  SELECT least(doc_id, n2), greatest(doc_id, n2),
        |    damerau_levenshtein(skey, k2)::INT
        |  FROM o WHERE n2 IS NOT NULL
        |)
        |SELECT DISTINCT doc_id_a, doc_id_b, dl FROM p
        |WHERE dl <= 8 ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "kmeans_embed" -> kmeansOracleSql,
    "kmeans_silhouette" -> kmeansSilhouetteSql,
    // The pair truth re-derives in SQL (nested WITH subquery); each
    // endpoint maps back to its original document's source.
    "dedup_cross_source" ->
      s"""SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  count(*) AS n_pairs
         |FROM (${ngramTruthSql(Some(10))}) p
         |JOIN documents da ON da.doc_id = p.doc_id_a % 1000000
         |JOIN documents db ON db.doc_id = p.doc_id_b % 1000000
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Full-product mirror of the bounded-heap top-5 + majority vote:
    // identical d2 arithmetic and the same two-level tie discipline.
    // Same 1e-4 quantization + exact-integer centroid sums as the
    // engine; dist2 = num::DOUBLE / (n*n)::DOUBLE is two correctly-
    // rounded ops from exact integers, so the argmin agrees with no
    // rounding guard.
    "centroid_classify" ->
      """WITH q AS (
        |  SELECT vec_id, label, t.i - 1 AS i,
        |    round(embedding[t.i]::DOUBLE * 10000)::BIGINT AS qv
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
        |), tr AS (SELECT * FROM q WHERE vec_id % 5 <> 0),
        |ev AS (SELECT * FROM q WHERE vec_id % 5 = 0),
        |cent AS (
        |  SELECT label AS c_label, i, sum(qv)::BIGINT AS s FROM tr GROUP BY 1, 2
        |), nn AS (
        |  SELECT label AS c_label, count(*)::BIGINT AS n FROM embeddings
        |  WHERE vec_id % 5 <> 0 GROUP BY 1
        |), sc AS (
        |  SELECT ev.vec_id, ev.label AS label_true, c.c_label,
        |    sum((ev.qv * nn.n - c.s) * (ev.qv * nn.n - c.s))::BIGINT AS num,
        |    max(nn.n) AS n
        |  FROM ev JOIN cent c ON ev.i = c.i
        |  JOIN nn ON nn.c_label = c.c_label
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT vec_id, label_true, c_label AS label_pred FROM (
        |    SELECT sc.*, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY num::DOUBLE / (n * n)::DOUBLE, c_label) AS rn
        |    FROM sc) WHERE rn = 1
        |)
        |SELECT label_true, label_pred, count(*)::BIGINT AS n FROM best
        |GROUP BY 1, 2 ORDER BY label_true, label_pred""".stripMargin,
    // md5-parity sign matrix reconstructed in SQL; both squared
    // distances are exact integers, the ratio two correctly-rounded
    // double divisions.
    "jl_distortion" ->
      """WITH q AS (
        |  SELECT vec_id AS id, t.i - 1 AS i,
        |    round(embedding[t.i]::DOUBLE * 10000)::BIGINT AS qv
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
        |  WHERE vec_id % 20 = 0
        |), pv AS (
        |  SELECT id, j.j, sum(qv * CASE
        |      WHEN ('0x' || substr(md5(q.i || ':' || j.j), 1, 15))::BIGINT % 2 = 1
        |      THEN -1 ELSE 1 END)::BIGINT AS p
        |  FROM q, (SELECT unnest(range(0, 16)) AS j) j
        |  GROUP BY 1, 2
        |), od AS (
        |  SELECT a.id AS a_id, b.id AS b_id,
        |    sum((a.qv - b.qv) * (a.qv - b.qv))::BIGINT AS orig_d2
        |  FROM q a JOIN q b ON a.i = b.i AND a.id < b.id GROUP BY 1, 2
        |), pd AS (
        |  SELECT a.id AS a_id, b.id AS b_id,
        |    sum((a.p - b.p) * (a.p - b.p))::BIGINT AS proj_d2
        |  FROM pv a JOIN pv b ON a.j = b.j AND a.id < b.id GROUP BY 1, 2
        |)
        |SELECT od.a_id, od.b_id, orig_d2, proj_d2,
        |  round(proj_d2::DOUBLE / 16.0 / orig_d2::DOUBLE, 6) AS distortion
        |FROM od JOIN pd USING (a_id, b_id)
        |ORDER BY a_id, b_id""".stripMargin,
    "knn_classify" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 5 = 0),
        |c AS (SELECT vec_id AS nid, v AS nv, label FROM e WHERE vec_id % 5 <> 0),
        |s AS (
        |  SELECT q.qid, c.nid, c.label,
        |    round(list_inner_product(c.nv, c.nv)
        |      - 2 * list_inner_product(c.nv, q.qv)
        |      + list_inner_product(q.qv, q.qv), 6) AS d2
        |  FROM c CROSS JOIN q
        |), top AS (
        |  SELECT * FROM (
        |    SELECT s.*, row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
        |    FROM s) WHERE rn <= 5
        |), votes AS (
        |  SELECT qid, label, count(*) AS votes FROM top GROUP BY 1, 2
        |)
        |SELECT qid AS vec_id, label AS pred_label, votes FROM (
        |  SELECT votes.*,
        |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS rn
        |  FROM votes) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "dedup_clusters" ->
      (reachPrefix +
        "\nSELECT a AS id, min(b) AS cluster FROM reach GROUP BY a ORDER BY id"),
    // Keep-one: drop every id whose component label is not itself.
    "dedup_keep" ->
      (reachPrefix + """
        |, labels AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a)
        |SELECT corpus.doc_id, corpus.text FROM corpus
        |WHERE corpus.doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster)
        |ORDER BY doc_id""".stripMargin),
    // Keep-best: per-cluster argmax (quality, doc_id) election over the
    // same recursive reach closure; singletons keep themselves.
    "dedup_keep_best" ->
      (reachPrefix + """
        |, labels AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a)
        |, scored AS (
        |  SELECT doc_id,
        |    round((
        |      least(greatest(length(text),1) / 200.0, 1.0)
        |    + greatest(1.0 - 4.0 * len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
        |          / greatest(length(text),1), 0.0)
        |    + least(5.0 * len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that|for)\b'))
        |          / greatest(len(regexp_extract_all(text, '\S+')),1), 1.0)
        |    ) / 3.0, 6) AS quality_score
        |  FROM corpus
        |), lab2 AS (
        |  SELECT s.doc_id, coalesce(l.cluster, s.doc_id) AS cluster, s.quality_score
        |  FROM scored s LEFT JOIN labels l ON s.doc_id = l.id
        |)
        |SELECT doc_id, quality_score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY cluster
        |    ORDER BY quality_score DESC, doc_id) AS rn
        |  FROM lab2
        |) WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // Leak-free split: the component label (own id when unpaired) feeds
    // the same mod-first arithmetic hash the sampling oracles use.
    "split_leakfree" ->
      (reachPrefix + """
        |, labels AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a)
        |SELECT doc_id, cluster,
        |  CASE WHEN ((cluster % 1000000) * 2654435761 + 13) % 1000000 < 800000
        |       THEN 'train' ELSE 'test' END AS split
        |FROM (
        |  SELECT corpus.doc_id, coalesce(labels.cluster, corpus.doc_id) AS cluster
        |  FROM corpus LEFT JOIN labels ON corpus.doc_id = labels.id
        |) ORDER BY doc_id""".stripMargin),
    "dedup_ngram_jaccard" -> ngramTruthSql(Some(10)),
    // Prefix filtering is lossless, so the truth SQL is IDENTICAL to the
    // full inverted-index join's — same corpus, threshold, and df cap;
    // only the engine-side candidate generation differs.
    "dedup_prefix_filter" -> ngramTruthSql(Some(10)),
    // Same 63-bit sign signature, exact integer hamming, id tiebreak.
    "sim_hamming" ->
      """WITH sig AS (
        |  SELECT vec_id,
        |    sum(CASE WHEN embedding[g.i] > 0 THEN (1::BIGINT << (g.i - 1))
        |      ELSE 0 END)::BIGINT AS sig
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, 63)) AS i) g
        |  GROUP BY vec_id
        |), p AS (
        |  SELECT vec_id AS probe_id, sig AS psig FROM sig WHERE vec_id < 3
        |), h AS (
        |  SELECT p.probe_id, s.vec_id,
        |    bit_count(xor(s.sig, p.psig))::BIGINT AS hamming
        |  FROM p JOIN sig s ON s.vec_id <> p.probe_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |    ORDER BY hamming, vec_id) AS rk
        |  FROM h
        |)
        |SELECT probe_id, rk, vec_id, hamming FROM r WHERE rk <= 5
        |ORDER BY probe_id, rk""".stripMargin,
    // Same labels; field-wise merge with a count-then-lang modal vote.
    "dedup_survivorship" ->
      (reachPrefix + """
        |, labels AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a)
        |, meta AS (
        |  SELECT c.doc_id, length(c.text)::BIGINT AS n_chars, d.lang
        |  FROM corpus c JOIN documents d ON d.doc_id =
        |    CASE WHEN c.doc_id >= 1000000 THEN c.doc_id - 1000000 ELSE c.doc_id END
        |), mem AS (
        |  SELECT m.doc_id, m.n_chars, m.lang,
        |    coalesce(l.cluster, m.doc_id) AS cluster
        |  FROM meta m LEFT JOIN labels l ON m.doc_id = l.id
        |), lm AS (SELECT cluster, lang, count(*) AS cnt FROM mem GROUP BY 1, 2),
        |ml AS (
        |  SELECT cluster, lang AS golden_lang FROM (
        |    SELECT cluster, lang,
        |      row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, lang) AS r
        |    FROM lm) WHERE r = 1
        |), agg AS (
        |  SELECT cluster, min(doc_id) AS record_id, count(*) AS n_members,
        |    max(n_chars) AS max_chars
        |  FROM mem GROUP BY cluster
        |)
        |SELECT agg.cluster, agg.record_id, agg.n_members, ml.golden_lang,
        |  agg.max_chars
        |FROM agg JOIN ml ON agg.cluster = ml.cluster
        |ORDER BY agg.cluster""".stripMargin),
    // Histogram over the same recursive component labels.
    "dedup_cluster_sizes" ->
      (reachPrefix + """
        |, labels AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a)
        |, sz AS (SELECT cluster, count(*) AS cluster_size FROM labels GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters FROM sz
        |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),
    // Containment truth over the snippet-planted corpus: same shingle
    // pipeline and df-cap, |∩| / min(|A|, |B|) instead of Jaccard.
    "dedup_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    array_to_string(regexp_split_to_array(text, '\s+')[1:25], ' ')
        |  FROM documents WHERE doc_id % 8 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM corpus
        |), sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, array_to_string(t[j:j+2], ' ') AS shingle
        |    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS j
        |          FROM toks WHERE len(t) >= 3)
        |  )
        |), cold AS (
        |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10
        |), kept AS (
        |  SELECT sh.doc_id, sh.shingle FROM sh JOIN cold USING (shingle)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  round(count(*)::DOUBLE / least(max(sa.sz), max(sb.sz)), 6) AS containment
        |FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |JOIN sizes sa ON sa.doc_id = a.doc_id
        |JOIN sizes sb ON sb.doc_id = b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING count(*)::DOUBLE / least(max(sa.sz), max(sb.sz)) >= 0.9
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "graph_triangles" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings
        |), pr AS (
        |  SELECT a.vec_id AS s, b.vec_id AS t
        |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |  WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
        |), tri AS (
        |  SELECT ab.s AS a, ab.t AS b, bc.t AS c
        |  FROM pr ab JOIN pr bc ON ab.t = bc.s
        |       JOIN pr ac ON ac.s = ab.s AND ac.t = bc.t
        |), v AS (SELECT unnest([a, b, c]) AS vec_id FROM tri)
        |SELECT vec_id, count(*) AS n_tri FROM v GROUP BY 1
        |ORDER BY vec_id""".stripMargin,
    "graph_clustering" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings
        |), pr AS (
        |  SELECT a.vec_id AS s, b.vec_id AS t
        |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |  WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
        |), tri AS (
        |  SELECT ab.s AS a, ab.t AS b, bc.t AS c
        |  FROM pr ab JOIN pr bc ON ab.t = bc.s
        |       JOIN pr ac ON ac.s = ab.s AND ac.t = bc.t
        |), tv AS (
        |  SELECT vec_id, count(*) AS n_tri
        |  FROM (SELECT unnest([a, b, c]) AS vec_id FROM tri) GROUP BY 1
        |), deg AS (
        |  SELECT vec_id, count(*) AS degree
        |  FROM (SELECT s AS vec_id FROM pr UNION ALL SELECT t FROM pr) GROUP BY 1
        |)
        |SELECT d.vec_id, d.degree, coalesce(tv.n_tri, 0) AS n_tri,
        |  round(coalesce(tv.n_tri, 0) * 2.0 / (d.degree * (d.degree - 1)), 6) AS coeff
        |FROM deg d LEFT JOIN tv ON tv.vec_id = d.vec_id
        |WHERE d.degree >= 2 ORDER BY d.vec_id""".stripMargin,
    // Paragraph dedup: winner election is a total order over (doc, pos),
    // so the cleaned corpus mirrors exactly. The oracle elects with a
    // row_number window where Spark uses min(struct) — same winners.
    "para_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, concat_ws(chr(10)||chr(10),
        |    lag(text) OVER (ORDER BY doc_id), text,
        |    lead(text) OVER (ORDER BY doc_id)) AS text
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, string_split(text, chr(10)||chr(10)) AS ps FROM corpus
        |), paras AS (
        |  SELECT doc_id, g.i - 1 AS pos, ps[g.i] AS para
        |  FROM parts, LATERAL (SELECT unnest(generate_series(1, len(ps))) AS i) g
        |  WHERE trim(ps[g.i]) <> ''
        |), winners AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |    FROM paras) WHERE rn = 1
        |), tot AS (SELECT doc_id, count(*) AS n_tot FROM paras GROUP BY doc_id)
        |SELECT k.doc_id,
        |  string_agg(k.para, chr(10)||chr(10) ORDER BY k.pos) AS clean_text,
        |  count(*)::BIGINT AS n_kept,
        |  (any_value(t.n_tot) - count(*))::BIGINT AS n_dropped
        |FROM paras k
        |JOIN winners w ON k.doc_id = w.doc_id AND k.pos = w.pos
        |JOIN tot t ON k.doc_id = t.doc_id
        |GROUP BY k.doc_id
        |ORDER BY k.doc_id""".stripMargin,
    // Span overlap: the same lag/lead corpus as para_dedup; the 1/16
    // content sample (md5 hex prefix '0') and the [2, 1000] gram-df
    // band are mirrored term for term, so Spark and DuckDB select the
    // identical gram set and the pair counts match exactly.
    "span_overlap" ->
      """WITH corpus AS (
        |  SELECT doc_id, concat_ws(chr(10)||chr(10),
        |    lag(text) OVER (ORDER BY doc_id), text,
        |    lead(text) OVER (ORDER BY doc_id)) AS text
        |  FROM documents
        |), sel AS (
        |  SELECT DISTINCT doc_id, h FROM (
        |    SELECT doc_id, md5(substring(text, g.i, 40)) AS h
        |    FROM corpus, LATERAL (
        |      SELECT unnest(generate_series(1, len(text) - 39)) AS i) g
        |    WHERE len(text) >= 40)
        |  WHERE substring(h, 1, 1) = '0'
        |), eligible AS (
        |  SELECT h FROM sel GROUP BY h HAVING count(*) BETWEEN 2 AND 1000
        |), kept AS (
        |  SELECT sel.doc_id, sel.h FROM sel JOIN eligible USING (h)
        |)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  count(*) AS n_shared
        |FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 3
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    // Span profile: every corpus doc reports once (LEFT JOIN mirrors the
    // Spark side's left join); DuckDB sum(CASE) is HUGEINT → ::BIGINT.
    "span_profile" ->
      """WITH corpus AS (
        |  SELECT doc_id, concat_ws(chr(10)||chr(10),
        |    lag(text) OVER (ORDER BY doc_id), text,
        |    lead(text) OVER (ORDER BY doc_id)) AS text
        |  FROM documents
        |), sel AS (
        |  SELECT DISTINCT doc_id, h FROM (
        |    SELECT doc_id, md5(substring(text, g.i, 40)) AS h
        |    FROM corpus, LATERAL (
        |      SELECT unnest(generate_series(1, len(text) - 39)) AS i) g
        |    WHERE len(text) >= 40)
        |  WHERE substring(h, 1, 1) = '0'
        |), gdf AS (SELECT h, count(*) AS c FROM sel GROUP BY h
        |), prof AS (
        |  SELECT doc_id, count(*) AS sel_cnt,
        |    sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS rep_cnt
        |  FROM sel JOIN gdf USING (h) GROUP BY doc_id
        |)
        |SELECT corpus.doc_id,
        |  coalesce(sel_cnt, 0)::BIGINT AS n_sel,
        |  coalesce(rep_cnt, 0)::BIGINT AS n_rep,
        |  round(coalesce(rep_cnt, 0)::DOUBLE /
        |        greatest(coalesce(sel_cnt, 0), 1), 6) AS dup_ratio
        |FROM corpus LEFT JOIN prof ON corpus.doc_id = prof.doc_id
        |ORDER BY corpus.doc_id""".stripMargin,
    // Span removal: position-level mirror of the span machinery — every
    // non-first occurrence of a selected duplicated gram cuts its k-char
    // extent, islands merge, text rebuilds from the gaps. The CLEAN TEXT
    // BYTES are compared, so the merge logic, segment arithmetic, and
    // tail handling must agree exactly across engines.
    "span_remove" ->
      """WITH corpus AS (
        |  SELECT doc_id, concat_ws(chr(10)||chr(10),
        |    lag(text) OVER (ORDER BY doc_id), text,
        |    lead(text) OVER (ORDER BY doc_id)) AS text
        |  FROM documents
        |), sel AS (
        |  SELECT doc_id, p, hx FROM (
        |    SELECT doc_id, g.i AS p, md5(substring(text, g.i, 40)) AS hx
        |    FROM corpus, LATERAL (
        |      SELECT unnest(generate_series(1, len(text) - 39)) AS i) g
        |    WHERE len(text) >= 40)
        |  WHERE substring(hx, 1, 1) = '0'
        |), ranked AS (
        |  SELECT doc_id, p,
        |    row_number() OVER (PARTITION BY hx ORDER BY doc_id, p) AS rn,
        |    count(*) OVER (PARTITION BY hx) AS gdf
        |  FROM sel
        |), marks AS (
        |  SELECT doc_id, p AS s, p + 40 AS e FROM ranked
        |  WHERE gdf >= 2 AND rn > 1
        |), opens AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      THEN 1 ELSE 0 END AS o
        |  FROM marks
        |), grps AS (
        |  SELECT doc_id, s, e,
        |    sum(o) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM opens
        |), merged AS (
        |  SELECT doc_id, min(s) AS s, max(e) AS e
        |  FROM grps GROUP BY doc_id, grp
        |), segs AS (
        |  SELECT doc_id, s, e,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS seg_start
        |  FROM merged
        |), rebuilt AS (
        |  SELECT m.doc_id,
        |    string_agg(substring(c.text, m.seg_start, m.s - m.seg_start),
        |               '' ORDER BY m.s)
        |      || substring(c.text, max(m.e), len(c.text) - max(m.e) + 1)
        |      AS clean_text,
        |    sum(m.e - m.s) AS n_removed
        |  FROM segs m JOIN corpus c USING (doc_id)
        |  GROUP BY m.doc_id, c.text
        |)
        |SELECT c.doc_id,
        |  coalesce(r.clean_text, c.text) AS clean_text,
        |  coalesce(r.n_removed, 0)::BIGINT AS n_removed
        |FROM corpus c LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,
    // Containment: the Spark side is truth ∩ candidates; the oracle is
    // the full truth list, so any banding-dropped pair hash-mismatches.
    // Uncapped truth — signatures hash the full shingle sets.
    "dedup_minhash_containment" -> ngramTruthSql(None),
    // PQ code-table shape: m=8 in-range codes per corpus vector. The
    // ADC ranking itself is approximate by design (no exact mirror
    // exists) — its exactness case is the lossless-grid ScalaTest.
    "sim_ann_pq_shape" ->
      """SELECT 2 * count(*) AS n_codes, 8 AS code_len_min, 8 AS code_len_max,
        |  true AS codes_in_range
        |FROM embeddings""".stripMargin,
    "vec_mean_pool" ->
      """SELECT label, g.i - 1 AS dim, round(avg(embedding[g.i]), 6) AS v
        |FROM embeddings,
        |  LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    // Same exploded-dimension layout as vec_mean_pool; the SSE joins
    // each component back to its (label, dim) centroid.
    "label_inertia" ->
      """WITH e AS (
        |  SELECT label, vec_id, g.i - 1 AS dim, embedding[g.i]::DOUBLE AS x
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
        |), cent AS (
        |  SELECT label, dim, avg(x) AS c FROM e GROUP BY 1, 2
        |), s AS (
        |  SELECT e.label, count(DISTINCT e.vec_id) AS n_vecs,
        |    round(sum(pow(e.x - cent.c, 2)), 6) AS sse
        |  FROM e JOIN cent ON e.label = cent.label AND e.dim = cent.dim
        |  GROUP BY e.label
        |)
        |SELECT label, n_vecs, sse, round(sse / n_vecs, 6) AS avg_sse
        |FROM s ORDER BY label""".stripMargin,
    // Components over the exact cosine pair list (recursive closure):
    // matches iff LSH banding surfaced every true pair AND the
    // min-label propagation converged to the same components.
    "dedup_embedding_clusters" ->
      """WITH RECURSIVE base AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_concat(embedding[1:56]::DOUBLE[],
        |      [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[])
        |  FROM embeddings
        |), e AS (
        |  SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM base
        |  WHERE list_inner_product(v, v) > 0
        |), p AS (
        |  SELECT a.vec_id AS pa, b.vec_id AS pb
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.7
        |), edges AS (
        |  SELECT pa AS a, pb AS b FROM p
        |  UNION SELECT pb, pa FROM p
        |  UNION SELECT pa, pa FROM p
        |  UNION SELECT pb, pb FROM p
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
        |)
        |SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a
        |ORDER BY id""".stripMargin,
    // Constant-true truth list: hash matches iff every shingle-able doc's
    // planted exact duplicate surfaced from the pigeonhole blocking.
    "dedup_simhash_containment" ->
      """SELECT doc_id, true AS found FROM documents
        |WHERE len(regexp_extract_all(text, '\S+')) >= 3
        |ORDER BY doc_id""".stripMargin,
    // Same blocked-window pairing: lead-1/lead-2 inside 2-char key
    // blocks over the (skey, doc_id) total order, then exact verify.
    "dedup_sorted_nbhd" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substring(text, 1, greatest(length(text) - 40, 1))
        |  FROM documents
        |), keyed AS (
        |  SELECT doc_id, text, substr(lower(text), 1, 40) AS skey,
        |    substr(lower(text), 1, 2) AS blk
        |  FROM corpus
        |), led AS (
        |  SELECT doc_id,
        |    lead(doc_id, 1) OVER w AS n1, lead(doc_id, 2) OVER w AS n2
        |  FROM keyed WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id)
        |), pairs AS (
        |  SELECT least(doc_id, n) AS id_a, greatest(doc_id, n) AS id_b
        |  FROM (SELECT doc_id, unnest([n1, n2]) AS n FROM led)
        |  WHERE n IS NOT NULL
        |)
        |SELECT p.id_a AS doc_id_a, p.id_b AS doc_id_b,
        |  levenshtein(a.text, b.text)::BIGINT AS lev
        |FROM pairs p
        |JOIN keyed a ON p.id_a = a.doc_id
        |JOIN keyed b ON p.id_b = b.doc_id
        |WHERE abs(length(a.text) - length(b.text)) <= 80
        |  AND levenshtein(a.text, b.text) <= 80
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "pair_edit_distance" -> {
      s"""WITH pairs AS (
         |${ngramTruthSql(Some(10))}
         |), corpus2 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |    substring(text, 1, greatest(length(text) - 40, 1))
         |  FROM documents
         |)
         |SELECT p.doc_id_a, p.doc_id_b,
         |  levenshtein(a.text, b.text)::BIGINT AS edit_dist
         |FROM pairs p
         |JOIN corpus2 a ON p.doc_id_a = a.doc_id
         |JOIN corpus2 b ON p.doc_id_b = b.doc_id
         |ORDER BY doc_id_a, doc_id_b""".stripMargin
    },
    "graph_bfs" -> {
      val steps = (1 to 4).map { k =>
        s"""r$k AS (
           |  SELECT v, dist FROM r${k - 1}
           |  UNION ALL
           |  SELECT e.t AS v, $k AS dist FROM e JOIN r${k - 1} ON e.s = r${k - 1}.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH emb AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings
         |), pr AS (
         |  SELECT a.vec_id AS s, b.vec_id AS t
         |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
         |  WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
         |), e AS (SELECT s, t FROM pr UNION ALL SELECT t, s FROM pr),
         |deg AS (SELECT s, count(*) AS d FROM e GROUP BY 1),
         |r0 AS (SELECT s AS v, 0 AS dist FROM deg ORDER BY d DESC, s LIMIT 1),
         |$steps
         |SELECT v AS vec_id, min(dist)::BIGINT AS dist FROM r4
         |GROUP BY v ORDER BY vec_id""".stripMargin
    },
    "graph_pagerank" -> {
      val steps = (1 to 5).map { i =>
        s"""p$i AS (
           |  SELECT e.t AS v, 0.15 / nn.n + 0.85 * sum(p${i - 1}.p / deg.d) AS p
           |  FROM e JOIN p${i - 1} ON e.s = p${i - 1}.v
           |       JOIN deg ON e.s = deg.s, nn
           |  GROUP BY e.t, nn.n)""".stripMargin
      }.mkString(",\n")
      s"""WITH emb AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings
         |), pr AS (
         |  SELECT a.vec_id AS s, b.vec_id AS t
         |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
         |  WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
         |), e AS (SELECT s, t FROM pr UNION ALL SELECT t, s FROM pr),
         |deg AS (SELECT s, count(*) AS d FROM e GROUP BY 1),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
         |p0 AS (SELECT s AS v, 1.0 / n AS p FROM deg, nn),
         |$steps
         |SELECT v AS vec_id, round(p, 6) AS rank FROM p5
         |ORDER BY vec_id""".stripMargin
    },
    // kNN-graph PageRank: brute-force top-5 edges (= exhaustive-probe
    // IVF, the sim_ann_ivf equivalence) symmetrized + deduped, then the
    // same five unrolled damped steps as graph_pagerank.
    "graph_pagerank_knn" -> {
      val steps = (1 to 5).map { i =>
        s"""p$i AS (
           |  SELECT e.t AS v, 0.15 / nn.n + 0.85 * sum(p${i - 1}.p / deg.d) AS p
           |  FROM e JOIN p${i - 1} ON e.s = p${i - 1}.v
           |       JOIN deg ON e.s = deg.s, nn
           |  GROUP BY e.t, nn.n)""".stripMargin
      }.mkString(",\n")
      s"""WITH emb AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings
         |), knn AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_inner_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
         |                 c.vec_id) AS rank
         |    FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
         |  ) WHERE rank <= 5
         |), e AS (
         |  SELECT DISTINCT s, t FROM (
         |    SELECT query_id AS s, neighbor_id AS t FROM knn
         |    UNION ALL
         |    SELECT neighbor_id AS s, query_id AS t FROM knn)
         |), deg AS (SELECT s, count(*) AS d FROM e GROUP BY 1),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
         |p0 AS (SELECT s AS v, 1.0 / n AS p FROM deg, nn),
         |$steps
         |SELECT v AS vec_id, round(p, 6) AS rank FROM p5
         |ORDER BY vec_id""".stripMargin
    },
    "dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings
        |)
        |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |  round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY vec_id_a, vec_id_b""".stripMargin,
    // Exact pair list over the planted-mutation vectors: the LSH-blocked
    // Spark side must reproduce it completely or the hash mismatches.
    "dedup_embedding_lsh" ->
      """WITH base AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    embedding[1:56]::DOUBLE[] || [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        |  FROM embeddings
        |), e AS (
        |  SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM base
        |)
        |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |  round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.7
        |ORDER BY vec_id_a, vec_id_b""".stripMargin,
    "sim_bruteforce_topk" -> bruteForceTopkSql,
    // Exhaustive-probe IVF must reproduce brute force exactly (see
    // simAnnIvf): same oracle.
    "sim_ann_ivf" -> bruteForceTopkSql,
    // Containment truth shared by the LSH, IVF-PQ and PQ audits:
    // brute-force top-5 over the planted-mutation corpus, restricted to
    // the high-cosine planted rows.
    "sim_ann_ivfpq" -> plantedHighCosineTruthSql,
    "sim_ann_pq" -> plantedHighCosineTruthSql,
    // Lifecycle (build ∘ add ∘ save ∘ load ∘ exhaustive search) must
    // reproduce brute force over the whole corpus: same oracle as
    // sim_ann_ivf.
    "ann_index_lifecycle" -> bruteForceTopkSql,
    // LSH containment truth: brute-force top-5 over the planted-mutation
    // corpus, restricted to the high-cosine (planted) rows the design
    // point guarantees — rank is computed over ALL neighbors first, then
    // filtered, mirroring bruteForceTopK().filter on the Spark side.
    "sim_ann_lsh" -> plantedHighCosineTruthSql,
  )

  /** Brute-force top-5 over the planted-mutation corpus restricted to
    * the high-cosine (planted) rows — the shared containment truth for
    * the LSH, IVF-PQ and PQ recall audits. Rank is computed over ALL
    * neighbors first, then filtered, mirroring
    * bruteForceTopK().filter on the Spark side. */
  private lazy val plantedHighCosineTruthSql: String =
      """WITH base AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    embedding[1:56]::DOUBLE[] || [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        |  FROM embeddings
        |), e AS (
        |  SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM base
        |)
        |SELECT query_id, neighbor_id, cosine, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_inner_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_inner_product(q.v, c.v) / (q.nrm * c.nrm) DESC, c.vec_id) AS rank
        |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id
        |) WHERE rank <= 5 AND cosine >= 0.9 ORDER BY query_id, rank""".stripMargin

  /** Exact cosine top-5 for the 1-in-50 query set — the truth for the
    * brute-force query itself and the exhaustive-probe IVF audit. */
  private lazy val bruteForceTopkSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |)
      |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_inner_product(q.v, c.v) / (q.nrm * c.nrm) DESC, c.vec_id) AS rank
      |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id
      |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Shared WITH RECURSIVE prefix: planted-mutation corpus → df-capped
    * shingle index → exact j ≥ 0.6 pairs → undirected edges → transitive
    * closure (`reach`). Consumed by the clusters and keep-one oracles. */
  private lazy val reachPrefix: String =
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 40, 1))
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM corpus
        |), sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, array_to_string(t[j:j+2], ' ') AS shingle
        |    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS j FROM toks WHERE len(t) >= 3)
        |  )
        |), cold AS (
        |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10
        |), kept AS (
        |  SELECT sh.doc_id, sh.shingle FROM sh JOIN cold USING (shingle)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS pa, b.doc_id AS pb
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN sizes sa ON sa.doc_id = a.doc_id
        |  JOIN sizes sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING count(*)::DOUBLE / (max(sa.sz) + max(sb.sz) - count(*)) >= 0.6
        |), edges AS (
        |  SELECT pa AS a, pb AS b FROM pairs
        |  UNION SELECT pb, pa FROM pairs
        |  UNION SELECT pa, pa FROM pairs
        |  UNION SELECT pb, pb FROM pairs
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |)""".stripMargin

  /** Exact n-gram Jaccard ≥ 0.6 pair list over the planted-mutation
    * corpus — the DuckDB truth for the pair query (df-capped, mirroring
    * the Spark side) and the banding containment check (uncapped,
    * because signatures hash the full shingle sets). */
  private def ngramTruthSql(maxDf: Option[Int]): String = {
    val (capCtes, src) = maxDf match {
      case Some(d) => (
        s""", cold AS (
           |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $d
           |), kept AS (
           |  SELECT sh.doc_id, sh.shingle FROM sh JOIN cold USING (shingle)
           |)""".stripMargin, "kept")
      case None => ("", "sh")
    }
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) - 40, 1))
       |  FROM documents
       |), toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t FROM corpus
       |), sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, array_to_string(t[j:j+2], ' ') AS shingle
       |    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS j FROM toks WHERE len(t) >= 3)
       |  )
       |)$capCtes, sizes AS (SELECT doc_id, count(*) AS sz FROM $src GROUP BY doc_id)
       |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |  round(count(*)::DOUBLE / (max(sa.sz) + max(sb.sz) - count(*)), 6) AS jaccard
       |FROM $src a JOIN $src b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |JOIN sizes sa ON sa.doc_id = a.doc_id
       |JOIN sizes sb ON sb.doc_id = b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*)::DOUBLE / (max(sa.sz) + max(sb.sz) - count(*)) >= 0.6
       |ORDER BY doc_id_a, doc_id_b""".stripMargin
  }
}
