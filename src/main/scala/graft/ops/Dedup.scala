package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2 #18–22).
  *
  * Scale discipline: no operator here ever forms the O(n²) global pair
  * space. Exact dedup groups by a 128-bit content hash (so the shuffle
  * carries 16-byte keys, not document bodies); near-dup detection always
  * blocks candidate pairs by a bucket key (minhash band, simhash prefix,
  * hyperplane signature) and verifies only within buckets.
  */
object Dedup {

  /** Exact deduplication by content hash.
    *
    * Groups on `md5(normalized text)` — the shuffle key is 32 hex chars
    * regardless of document size, so at 100 TB the exchange volume is
    * O(#docs · 16 B), not O(corpus). A 128-bit hash makes accidental
    * collisions (~n²/2¹²⁸) irrelevant at any achievable corpus size.
    *
    * Returns one row per distinct content: the representative (minimum)
    * id, the copy count, and the content hash.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("content_md5"), col(idCol))
      .groupBy("content_md5")
      .agg(min(idCol).as(idCol), count(lit(1)).as("n_copies"))

  /** Rows of `df` surviving exact dedup (first-id-wins), full schema. */
  def exactKeep(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exact(df, textCol, idCol).select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995): sort by a
    * `keyLen`-char normalized prefix key, pair each record with its
    * next `winSize` neighbors in that order, verify candidates with an
    * exact edit distance ≤ `maxEdit`. The third blocking family next to
    * shingle inverted-index and LSH: cheapest of the three (one sort,
    * no token explosion) and the right tool when near-dups share a
    * prefix (re-crawls, versioned titles, truncated tails).
    *
    * Scale shape: the sort runs WITHIN `blockLen`-char key blocks
    * (hash-partitioned windows, no global single-partition sort) — the
    * distributed sorted-neighborhood variant; cross-block neighbors are
    * deliberately out of reach, the standard coverage tradeoff. Only
    * (id, 40-char key) rows ride the sort exchange; document bodies
    * join back by id for the O(window · n) levenshtein verification.
    *
    * Returns (idCol_a, idCol_b, lev), idCol_a < idCol_b.
    */
  def sortedNeighborhood(
      df: DataFrame,
      textCol: String,
      idCol: String,
      keyLen: Int = 40,
      blockLen: Int = 2,
      winSize: Int = 2,
      maxEdit: Int = 80): DataFrame = {
    require(keyLen > blockLen && winSize >= 1, "key > block and window >= 1")
    val base = df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
    val keyed = base.select(col("id"),
        substring(lower(col("t")), 1, keyLen).as("skey"))
      .withColumn("blk", substring(col("skey"), 1, blockLen))
    val w = Window.partitionBy("blk").orderBy(col("skey"), col("id"))
    val pairs = keyed
      .select(col("id") +:
        (1 to winSize).map(k => lead(col("id"), k).over(w).as(s"_n$k")): _*)
      .select(col("id"),
        explode(array((1 to winSize).map(k => col(s"_n$k")): _*)).as("nid"))
      .filter(col("nid").isNotNull)
      .select(least(col("id"), col("nid")).as("id_a"),
        greatest(col("id"), col("nid")).as("id_b"))
    val pruned = pairs
      .join(base.select(col("id").as("id_a"), col("t").as("ta")), "id_a")
      .join(base.select(col("id").as("id_b"), col("t").as("tb")), "id_b")
      // Exactness-preserving prune: levenshtein ≥ |len a − len b|, so
      // pairs beyond the edit bar on length alone never pay the
      // comparison; survivors use the thresholded banded O(k·n)
      // levenshtein (returns −1 above the bar) instead of the full
      // O(m·n) matrix — same accepted pairs and distances.
      .filter(abs(length(col("ta")) - length(col("tb"))) <= maxEdit)
    // AQE coalesces this join output to ~1 partition (it is tiny in
    // BYTES), which would serialize the CPU-bound edit-distance pass
    // on one core; spread survivors across the session parallelism —
    // gated on the corpus scan's width (fanOut) so a wide at-scale
    // input is not capped to the core count. The checkpoint is a
    // REQUIRED barrier, not a cache nicety: without it Catalyst pushes
    // the collapsed levenshtein filter back through the repartition
    // exchange, evaluating it on the coalesced single partition (and
    // re-projecting lev above). The materialized set is only the
    // length-pruned candidates.
    graft.Tables.fanOut(pruned, df)
      .transform(graft.Tables.checkpoint)
      .withColumn("lev", levenshtein(col("ta"), col("tb"), maxEdit).cast("long"))
      .filter(col("lev") >= 0 && col("lev") <= maxEdit)
      .select(col("id_a").as(idCol + "_a"), col("id_b").as(idCol + "_b"), col("lev"))
  }

  /** Distinct lowercase word n-gram shingles of a text column. */
  def shingles(text: Column, n: Int): Column = {
    val toks = regexp_extract_all(lower(text), lit("\\S+"), lit(0))
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          j => concat_ws(" ", slice(toks, j, lit(n)))))
        .otherwise(array()))
  }

  private val tokenPattern = java.util.regex.Pattern.compile("\\S+")

  /** JVM twin of [[shingles]] (identical output on ASCII text) for the
    * per-partition signature loops — the expression form costs several
    * seconds per pass over a large corpus (regex + HOF + string churn in
    * interpreted eval), and the hash pipelines would evaluate it up to
    * five times. */
  def shinglesJvm(text: String, n: Int): IndexedSeq[String] = {
    val m = tokenPattern.matcher(text.toLowerCase)
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) toks += m.group()
    if (toks.length < n) Vector.empty
    else {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = i
        while (j < i + n) {
          if (j > i) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        seen += sb.toString
        i += 1
      }
      seen.toVector
    }
  }

  /** N-gram Jaccard near-duplicate pairs via an inverted shingle index.
    *
    * Pair generation is blocked by shared shingle (the classic inverted
    * index): only documents sharing at least one n-gram ever meet, so the
    * candidate space is Σ_shingle df(shingle)² — never the O(n²) global
    * cross product. Intersection sizes fall out of a count aggregation;
    * Jaccard = |∩| / (|A|+|B|−|∩|) is exact integer arithmetic, so the
    * result is engine-reproducible (SQL-oracle-able).
    *
    * '''Default behavior note''': `maxShingleDf` defaults to 1000, so
    * Jaccard is computed over the df ≤ 1000 shingle space by default —
    * head shingles (boilerplate, stop-phrase n-grams) are excluded from
    * both the intersection and the size denominators, symmetrically (see
    * [[dfCapped]]). This is the scale-safe production default: without it
    * a single hot shingle generates df² candidate pairs. Callers who need
    * the textbook all-shingles Jaccard must pass
    * `maxShingleDf = Int.MaxValue` explicitly and accept the quadratic
    * hot-shingle risk.
    *
    * Returns (idCol_a, idCol_b, jaccard) with idCol_a < idCol_b.
    */
  def ngramJaccard(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minJaccard: Double = 0.1,
      maxShingleDf: Int = 1000): DataFrame =
    shinglePairStats(df, textCol, idCol, n, maxShingleDf)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a").as(idCol + "_a"), col("id_b").as(idCol + "_b"),
        round(col("jaccard"), 6).as("jaccard"))

  /** Asymmetric n-gram containment pairs: |A∩B| / min(|A|, |B|) over the
    * same df-capped shingle space as [[ngramJaccard]]. Containment is
    * the near-SUBSET detector Jaccard misses: a snippet quoted inside a
    * much longer document scores |snippet|/|doc| ≈ 0 on Jaccard but 1.0
    * on containment — the boilerplate/quotation/excerpt case a corpus
    * cleaner must catch. Same inverted-index blocking and cap
    * discipline; exact integer arithmetic, so SQL-oracle-able.
    *
    * Returns (idCol_a, idCol_b, containment) with idCol_a < idCol_b.
    */
  def ngramContainment(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minContainment: Double = 0.8,
      maxShingleDf: Int = 1000): DataFrame =
    shinglePairStats(df, textCol, idCol, n, maxShingleDf)
      .withColumn("containment",
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("containment") >= minContainment)
      .select(col("id_a").as(idCol + "_a"), col("id_b").as(idCol + "_b"),
        round(col("containment"), 6).as("containment"))

  /** Shared pair-intersection base for [[ngramJaccard]] and
    * [[ngramContainment]]: inverted-index blocked candidate pairs with
    * their intersection size and both (df-capped) shingle-set sizes —
    * (id_a, id_b, inter, sz_a, sz_b), id_a < id_b. */
  /** The df-capped (id, shingle-hash) inverted index shared by the
    * shingle-space pair detectors ([[shinglePairStats]],
    * [[prefixFilterJaccard]]).
    *
    * JVM shingle explode; downstream joins run on the 64-bit shingle
    * hash so every shuffle carries 8-byte keys, not n-gram strings
    * (collisions are ~|vocabⁿ|²/2⁶⁴ — immaterial).
    * Materialized once: the index is consumed by the df-cap aggregation
    * plus several downstream branches (per-doc sizes + self-join sides)
    * and would otherwise re-run the shingling pass per branch.
    * Only the table the downstream branches actually consume is
    * checkpointed; when the cap binds, the raw pre-cap index is
    * persist()ed just long enough to feed the capped materialization,
    * then unpersisted. */
  private def cappedShingleIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      maxShingleDf: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nn = n
    // Shingling is CPU-bound per row; a small corpus arrives as one
    // parquet split, which would serialize the whole pass on one core.
    // Spread rows cluster-wide first (cheap: pre-explode bytes) — a
    // no-op when the scan already arrives wide (fanOut gate).
    val rawPlan = graft.Tables.fanOut(
        df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
          .filter(col("t").isNotNull)) // null text would NPE in the JVM shingler
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        shinglesJvm(t, nn).map(s => (id, Hashing.xxh64(s, 42L)))
      })
      .toDF("id", "shingle")
    if (maxShingleDf == Int.MaxValue) graft.Tables.checkpoint(rawPlan) // cap cannot bind — skip the df pass
    else {
      val raw = rawPlan.persist()
      try dfCapped(raw, maxShingleDf).transform(graft.Tables.checkpoint) // eager: materializes while raw is cached
      finally raw.unpersist(false)
    }
  }

  private def shinglePairStats(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      maxShingleDf: Int): DataFrame = {
    val sh = cappedShingleIndex(df, textCol, idCol, n, maxShingleDf)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = sh.as("a")
    val b = sh.as("b")
    a.join(b, col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
  }

  /** Document-frequency cap: a shingle in df documents contributes df²
    * candidate pairs to the self-join, so head shingles on a real corpus
    * (boilerplate headers, "one of the") each spawn ~df² ≈ 10¹²⁺ pairs.
    * Shingles with df > maxShingleDf carry no pairwise discrimination;
    * they are dropped from the index *and* the size counts, so Jaccard
    * is computed over the discriminative (df ≤ cap) shingle space —
    * symmetric for both documents, and mirrored verbatim in the DuckDB
    * oracle. The hot list is tiny (Zipf head, post-aggregation), so the
    * anti-join broadcasts (pinned in PlanContractSpec); the cap keeps
    * the candidate space Σ min(df, cap)². Package-private so the plan
    * contract can inspect the join pre-checkpoint. */
  private[graft] def dfCapped(index: DataFrame, maxShingleDf: Int): DataFrame = {
    val hot = index.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select("shingle")
    index.join(hot, Seq("shingle"), "left_anti")
  }

  /** All-Pairs / PPJoin-style prefix-filtered n-gram Jaccard join
    * (Bayardo et al. WWW'07; Xiao et al. WWW'08) — the fourth blocking
    * family next to the full inverted index, MinHash-LSH, and
    * sorted-neighborhood, and unlike LSH it is EXACT: prefix filtering
    * is a lossless candidate reduction, so the output equals
    * [[ngramJaccard]] at the same threshold and df cap (the DuckDB
    * oracle is literally the same SQL).
    *
    * Shingles are globally ordered rarest-first (ascending document
    * frequency, shingle-hash tiebreak). A document of size s indexes
    * only its first `s − ⌈t·s⌉ + 1` shingles in that order; any pair
    * with Jaccard ≥ t must share at least one indexed shingle
    * (|A∩B| ≥ ⌈t·max(|A|,|B|)⌉, so the intersection cannot fit in
    * either (⌈t·s⌉−1)-sized suffix — the classic prefix-filter lemma).
    * Candidates are verified exactly via `array_intersect` on per-doc
    * shingle-hash arrays.
    *
    * Scale shape vs the full inverted-index join: the self-join runs on
    * the ~(1−t)·|index| prefix rows, and because prefixes are the
    * RAREST shingles of each document, candidate fan-out per shingle is
    * far below df² for the head of the distribution — at t = 0.8 the
    * candidate space is typically 10–100× smaller than the full index
    * join on web-scale corpora. The df cap still applies first, so the
    * worst case stays Σ min(df, cap)².
    *
    * Returns (idCol_a, idCol_b, jaccard) with idCol_a < idCol_b.
    */
  def prefixFilterJaccard(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minJaccard: Double = 0.6,
      maxShingleDf: Int = 1000): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1, "minJaccard must be in (0, 1]")
    val sh = cappedShingleIndex(df, textCol, idCol, n, maxShingleDf)
    val shingleDf = sh.groupBy("shingle").agg(count(lit(1)).as("sdf"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    // ⌈t·s⌉ with a downward epsilon: a float excess (0.6·5 → 3.0000…04)
    // would shorten the prefix and silently lose completeness; the
    // epsilon can only lengthen it, which costs candidates, never pairs.
    val minInter = ceil(lit(minJaccard) * col("sz") - lit(1e-9)).cast("long")
    val prefix = sh.join(shingleDf, "shingle")
      .withColumn("rnk",
        row_number().over(Window.partitionBy("id").orderBy(col("sdf"), col("shingle"))))
      .join(sizes, "id")
      .filter(col("rnk") <= col("sz") - minInter + 1)
      .select("id", "shingle")
    val cands = prefix.as("a")
      .join(prefix.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Exact verification on candidate pairs only: per-doc sorted hash
    // arrays ride two hash joins; array payload is 8 B × |doc shingles|.
    val sets = sh.groupBy("id")
      .agg(sort_array(collect_list("shingle")).as("set"), count(lit(1)).as("sz"))
    cands
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a"), col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a").as(idCol + "_a"), col("id_b").as(idCol + "_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * numHashes seeded xxhash64 min-hashes per document → `bands` band
    * keys (each hashing `numHashes / bands` consecutive signature rows) →
    * self-join on (band index, band key) → exact Jaccard verification via
    * `array_intersect` on the *candidate pairs only*. Probability of a
    * pair with Jaccard j surfacing: 1 − (1 − j^r)^bands. All pair work is
    * bucket-blocked; signatures are native expressions (no UDF).
    *
    * Returns (idCol_a, idCol_b, jaccard) for verified pairs ≥ minJaccard.
    */
  def minHashLsh(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.5): DataFrame = {
    val (withSh, cand) = minHashParts(df, textCol, idCol, n, numHashes, bands)
    // Exact Jaccard verification on candidates only (the shingle arrays
    // never ride through the band self-join).
    cand
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a").as(idCol + "_a"), col("id_b").as(idCol + "_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Banded MinHash candidate pairs (idCol_a < idCol_b) *before* Jaccard
    * verification — the recall side of [[minHashLsh]] in isolation: a
    * pair with Jaccard j surfaces with probability 1 − (1 − j^r)^bands.
    * Exposed so pipelines can audit banding completeness against an
    * exact pair source (an anti-join of ground truth against these
    * candidates shows exactly what the banding drops). */
  def minHashCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    val (_, cand) = minHashParts(df, textCol, idCol, n, numHashes, bands)
    cand.select(col("id_a").as(idCol + "_a"), col("id_b").as(idCol + "_b"))
  }

  /** Shared MinHash pipeline: (checkpointed shingle arrays, distinct
    * banded candidate pairs). */
  private def minHashParts(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numHashes: Int,
      bands: Int): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val spark = df.sparkSession
    import spark.implicits._
    val nh = numHashes
    val nb = bands
    val nn = n
    // Same single-split-scan discipline as cappedShingleIndex: the
    // shingling + per-shingle minhash loop is the expensive part —
    // distribute the rows before it, not after (fanOut: no-op on a
    // wide at-scale scan).
    val texts = graft.Tables.fanOut(
        df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
          .filter(col("t").isNotNull)) // null text would NPE in the JVM shingler
      .as[(Long, String)]
    // The corpus is shingled exactly once (localCheckpoint): signatures
    // and the verification join both read these arrays.
    val withSh = texts
      .mapPartitions(_.map { case (id, t) => (id, shinglesJvm(t, nn)) })
      .toDF("id", "sh")
      .transform(graft.Tables.checkpoint)
    // Signatures in one per-partition primitive pass over the cached
    // shingle arrays (one byte-level xxh64 per shingle, numHashes cheap
    // long-mixes). Emits (id, band, bandKey) directly.
    val banded = withSh
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        it.flatMap { case (id, sh) =>
          if (sh.isEmpty) Nil
          else {
            val mins = Array.fill(nh)(Long.MaxValue)
            sh.foreach { s =>
              val h0 = Hashing.xxh64(s, 42L)
              var i = 0
              while (i < nh) {
                val h = Hashing.xxh64(h0, i)
                if (h < mins(i)) mins(i) = h
                i += 1
              }
            }
            (0 until nb).map { b =>
              var key = 0x9E3779B97F4A7C15L
              var i = b * r
              while (i < (b + 1) * r) { key = Hashing.xxh64(mins(i), key); i += 1 }
              (id, b, key)
            }
          }
        }
      }.toDF("id", "band", "bkey")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    (withSh, cand)
  }

  /** 64-bit SimHash near-duplicate pairs.
    *
    * The signature is folded per document inside one native `aggregate`
    * over the shingle hashes (no explode — a single projection pass at
    * any scale). Candidate pairs are blocked by the pigeonhole principle:
    * the 64 bits split into `maxHamming + 1` chunks, and any pair within
    * `maxHamming` must agree on at least one chunk, so the self-join runs
    * on (chunk index, chunk value) buckets and exact Hamming distance is
    * checked on candidates only.
    *
    * Returns (idCol_a, idCol_b, hamming).
    */
  def simHash(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      maxHamming: Int = 3): DataFrame = {
    // chunks = maxHamming+1 must leave >= 1 bit per chunk or the
    // pigeonhole blocking degenerates to an all-pairs cross product.
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val spark = df.sparkSession
    import spark.implicits._
    val nn = n
    // Single-split-scan discipline (see cappedShingleIndex): spread the
    // CPU-bound shingle+fold pass cluster-wide before it runs (fanOut:
    // no-op on a wide at-scale scan).
    val sigs = graft.Tables.fanOut(df
        .select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
        .filter(col("t").isNotNull)) // null text would NPE in the JVM shingler
      .as[(Long, String)]
      .mapPartitions { it =>
        // One per-partition primitive pass: JVM shingling + |shingles|×64
        // integer fold per doc, scratch reused.
        val counts = new Array[Int](64)
        it.flatMap { case (id, t) =>
          val sh = shinglesJvm(t, nn)
          if (sh.isEmpty) Nil
          else {
            java.util.Arrays.fill(counts, 0)
            sh.foreach { s =>
              val h = Hashing.xxh64(s, 42L)
              var j = 0
              while (j < 64) {
                if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
                j += 1
              }
            }
            var sim = 0L
            var j = 0
            while (j < 64) { if (counts(j) > 0) sim |= 1L << j; j += 1 }
            Seq((id, sim))
          }
        }
      }.toDF("id", "sim")
    val chunks = maxHamming + 1
    val bitsPerChunk = 64 / chunks
    val chunkArr = array((0 until chunks).map { c =>
      shiftrightunsigned(col("sim"), c * bitsPerChunk)
        .bitwiseAND(lit((1L << bitsPerChunk) - 1))
    }: _*)
    val keyed = sigs.select(col("id"), col("sim"), posexplode(chunkArr))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ckey")
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a").as(idCol + "_a"), col("id_b").as(idCol + "_b"), col("hamming"))
  }

  /** Connected components over a near-duplicate pair list: every document
    * reachable through any chain of near-dup pairs lands in one cluster,
    * labeled by the cluster's minimum id — the step that turns pairwise
    * detectors ([[ngramJaccard]], [[minHashLsh]], [[simHash]],
    * [[embeddingCosine]]) into dedup groups.
    *
    * Iterative min-label propagation with pointer jumping: each round
    * takes the min over neighbors' labels (one hop) and then the label of
    * the label (pointer jump), so the distance a minimum travels doubles
    * per round — O(log diameter) rounds, each a key-partitioned join+agg,
    * no driver-side graph. Label state is two Longs per node. The loop
    * exits on a converged (fixed-point) round and throws if `maxRounds`
    * is hit unconverged rather than returning wrong components (default
    * 16 rounds covers diameters beyond any real near-dup corpus).
    *
    * Returns (id, cluster) for every id appearing in `pairs`.
    */
  def clusters(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 16): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    // Undirected adjacency, checkpointed: reused every round.
    val adj = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .transform(graft.Tables.checkpoint)
    var labels = adj.select(col("a").as("id"), col("a").as("cluster"))
      .unionAll(adj.select(col("b").as("id"), col("b").as("cluster")))
      .groupBy("id").agg(min("cluster").as("cluster"))
      .transform(graft.Tables.checkpoint)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // 1. one-hop: min over own + neighbors' labels.
      val neighborLabels = adj
        .join(labels, adj("b") === labels("id"))
        .select(adj("a").as("id"), col("cluster"))
      val hop = labels.unionAll(neighborLabels)
        .groupBy("id").agg(min("cluster").as("cluster"))
        .transform(graft.Tables.checkpoint)
      // 2. pointer jump: cluster := min(cluster, cluster(cluster)) —
      //    every label is itself a node id, so the lookup always resolves;
      //    this doubles the distance minima travel per round.
      val byId = hop.select(col("id").as("cluster"), col("cluster").as("jump"))
      val next = hop.join(byId, Seq("cluster"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("jump"), col("cluster"))).as("cluster"))
        .transform(graft.Tables.checkpoint)
      val changed = next.join(labels,
          next("id") === labels("id") && next("cluster") =!= labels("cluster"))
        .limit(1).count()
      // `next` is materialized, so nothing reads these two again.
      graft.Tables.release(hop)
      graft.Tables.release(labels)
      converged = changed == 0
      labels = next
      round += 1
    }
    graft.Tables.release(adj)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds")
    labels
  }

  /** Paragraph-level exact dedup (the CCNet-style corpus-cleaning pass:
    * boilerplate paragraphs repeated across documents are kept only at
    * their first corpus-wide occurrence).
    *
    * Each document splits into paragraphs on `sep`; blank paragraphs are
    * ignored. A distinct paragraph survives only in the document/position
    * where it first occurs (minimum (id, position) — a total order, so
    * the output is deterministic). Surviving paragraphs are reassembled
    * in their original order; a document whose every paragraph occurred
    * earlier vanishes from the output.
    *
    * Scale shape: the winner election never moves bodies — the exploded
    * side is projected to (id, pos, md5(paragraph)) before its exchange,
    * so the groupBy shuffles 16-byte keys with map-side partial
    * aggregation, and the per-document kept-position list (a handful of
    * ints) is what joins back. Document bodies cross the wire exactly
    * once, on that final id-keyed join, where the text is re-split and
    * filtered in place by a codegen'd higher-order function.
    *
    * Output: (idCol, clean_text, n_kept, n_dropped), one row per
    * document retaining at least one paragraph.
    */
  def paragraphDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val parts = split(col(textCol), sepRe)
    // slim election stream: bodies die at the md5 projection
    val slim = df
      .select(col(idCol), posexplode(parts).as(Seq("pos", "para")))
      .filter(trim(col("para")) =!= "")
      .select(col(idCol), col("pos"), unhex(md5(col("para"))).as("h"))
    val keptPos = slim
      .groupBy("h")
      .agg(min(struct(col(idCol), col("pos"))).as("w"))
      .select(col("w")(idCol).as(idCol), col("w")("pos").as("pos"))
      .groupBy(idCol)
      .agg(collect_list("pos").as("kept_pos"))
    val nonblank = filter(parts, p => trim(p) =!= "")
    df.join(keptPos, Seq(idCol))
      .select(
        col(idCol),
        array_join(
          filter(parts, (p, i) => array_contains(col("kept_pos"), i)), sep)
          .as("clean_text"),
        size(col("kept_pos")).cast("long").as("n_kept"),
        (size(nonblank) - size(col("kept_pos"))).cast("long").as("n_dropped"))
  }

  /** Substring-level cross-document span overlap via content-sampled
    * character k-grams — the finer-than-paragraph granularity (the
    * detection side of substring dedup à la Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): two documents sharing
    * any sufficiently long literal span surface as a pair regardless of
    * paragraph or sentence boundaries.
    *
    * Every k-char window is hashed and a deterministic content-defined
    * sample kept: grams whose md5 hex starts with `selPrefix` (rate
    * 16^-|selPrefix|). Selection depends only on gram CONTENT, so two
    * documents sharing a span select identical grams — no alignment
    * problem (a positional stride would sample misaligned windows) —
    * and a shared span of length L ≥ k contributes ~(L−k+1)·16^-p
    * expected shared selections. Defaults (k = 40, one hex digit,
    * minShared = 3) detect spans ≳ 100 chars with high probability;
    * the selection is exactly reproducible on any engine that computes
    * md5 of the same substring, so the operator is SQL-oracle-able
    * with zero flakiness (sensitivity is a property, not a race).
    *
    * Scale shape: document bodies die at the (id, 16-byte hash)
    * projection — the exchange carries one row per selected gram
    * (16^-p of positions), never text. A single aggregation keeps only
    * grams with document-frequency in [2, maxGramDf]: singletons can't
    * form a pair, and hot grams (runaway boilerplate) would contribute
    * df² join rows — the same cap discipline as [[ngramJaccard]], so
    * the self-join is bounded by Σ df² over cold repeated grams.
    *
    * Returns (idCol_a, idCol_b, n_shared): pairs sharing ≥ `minShared`
    * distinct selected grams, idCol_a < idCol_b.
    */
  def spanOverlapPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 40,
      selPrefix: String = "0",
      minShared: Int = 3,
      maxGramDf: Int = 1000): DataFrame =
    spanOverlapPairsFromGrams(
      spanGramPositions(df, textCol, idCol, k, selPrefix), idCol,
      minShared, maxGramDf)

  /** [[spanOverlapPairs]] over a precomputed [[spanGramPositions]] frame
    * — the shared-scan form: the md5-per-window sampling pass is the
    * span family's dominant cost, so a caller running several span
    * operators over one corpus should materialize the sample once and
    * feed it to all of them. */
  def spanOverlapPairsFromGrams(
      grams: DataFrame,
      idCol: String,
      minShared: Int = 3,
      maxGramDf: Int = 1000): DataFrame = {
    require(minShared > 0 && maxGramDf >= 2)
    val sel = grams.select("id", "h").distinct()
    // One df pass bounds the join: persisted only long enough to feed
    // the eligible-gram materialization (ngramJaccard's cap pattern).
    val selP = sel.persist()
    val kept = try {
      val eligible = selP.groupBy("h").agg(count(lit(1)).as("gdf"))
        .filter(col("gdf") >= 2 && col("gdf") <= maxGramDf)
        .select("h")
      selP.join(eligible, Seq("h")).transform(graft.Tables.checkpoint)
    } finally selP.unpersist(false)
    val a = kept.as("a")
    val b = kept.as("b")
    a.join(b, col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id_a").as(idCol + "_a"), col("id_b").as(idCol + "_b"),
        col("n_shared"))
  }

  /** The content-defined k-gram sample shared by [[spanOverlapPairs]],
    * [[spanDupProfile]], and [[spanRemove]]: (id, position, 16-byte gram
    * hash) rows for grams whose md5 hex starts with `selPrefix`.
    * Positions are 1-based.
    *
    * Public because it is the span family's dominant cost (one md5 per
    * character position): materialize this once per corpus and feed the
    * `FromGrams` operator variants instead of re-scanning per operator. */
  def spanGramPositions(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 40,
      selPrefix: String = "0"): DataFrame = {
    require(k > 0, "k must be positive")
    require(selPrefix.nonEmpty && selPrefix.forall("0123456789abcdef".contains(_)),
      "selPrefix must be nonempty lowercase hex")
    // sequence(1, n) DESCENDS for n < 1 in Spark — the length filter is
    // load-bearing, not an optimization.
    df.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("id"),
        explode(sequence(lit(1), length(col(textCol)) - lit(k - 1))).as("p"),
        col(textCol).as("t"))
      .select(col("id"), col("p"), md5(col("t").substr(col("p"), lit(k))).as("hx"))
      .filter(substring(col("hx"), lit(1), lit(selPrefix.length)) === selPrefix)
      .select(col("id"), col("p"), unhex(col("hx")).as("h"))
  }

  /** Distinct (id, hash) view of [[selectedGramPositions]] — the frame
    * the pair/profile operators aggregate over. */

  /** Per-document span-duplication profile over the same content-defined
    * k-gram sample as [[spanOverlapPairs]]: how much of each document's
    * sampled substring space also occurs in at least one OTHER document
    * — the corpus-quality signal behind substring-level dedup decisions
    * (a high ratio means the document is largely assembled from text
    * that exists elsewhere).
    *
    * Every input document appears exactly once: documents shorter than
    * `k` or with no selected gram report (0, 0, 0.0) rather than
    * vanishing — a profile must cover the corpus it profiles.
    *
    * Scale shape: one exchange of (id, 16-byte hash) sampled rows, a
    * gram-df aggregation re-using that partitioning, and one id-keyed
    * rollup; no pair space is ever formed.
    *
    * Returns (idCol, n_sel, n_rep, dup_ratio), dup_ratio =
    * n_rep / max(n_sel, 1) rounded to 6 digits.
    */
  def spanDupProfile(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 40,
      selPrefix: String = "0"): DataFrame =
    spanDupProfileFromGrams(df, idCol,
      spanGramPositions(df, textCol, idCol, k, selPrefix))

  /** [[spanDupProfile]] over a precomputed [[spanGramPositions]] frame
    * (shared-scan form — see [[spanOverlapPairsFromGrams]]). */
  def spanDupProfileFromGrams(
      df: DataFrame,
      idCol: String,
      grams: DataFrame): DataFrame = {
    val sel = grams.select("id", "h").distinct()
    val gdf = sel.groupBy("h").agg(count(lit(1)).as("gdf"))
    val prof = sel.join(gdf, Seq("h"))
      .groupBy("id")
      .agg(count(lit(1)).as("sel_cnt"),
        sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("rep_cnt"))
    df.select(col(idCol))
      .join(prof, df(idCol) === prof("id"), "left")
      .select(col(idCol),
        coalesce(col("sel_cnt"), lit(0L)).as("n_sel"),
        coalesce(col("rep_cnt"), lit(0L)).as("n_rep"),
        round(coalesce(col("rep_cnt"), lit(0L)).cast("double") /
          greatest(coalesce(col("sel_cnt"), lit(0L)), lit(1L)), 6).as("dup_ratio"))
  }

  /** Substring-level span removal — the removal side of substring dedup
    * (Lee et al.: repeated long spans hurt LM training more than repeated
    * documents). Every duplicated SELECTED k-gram occurrence that is not
    * the gram's first corpus-wide occurrence (minimum (id, position) —
    * intra-document repeats included) marks its k-char extent for
    * deletion; overlapping marks merge into islands, and each document's
    * text is rebuilt from the surviving segments. Long shared spans
    * select ~(L−k)·16^-|selPrefix| grams at content-aligned positions, so
    * their cores are scrubbed everywhere but the first occurrence, while
    * the sampled selection keeps the position space (and the oracle
    * replay) at 16^-p of the naive per-position cost. Deletion extents
    * are deterministic functions of gram CONTENT, so any engine
    * computing the same md5 sample reproduces the exact output bytes.
    *
    * Scale shape: the election shuffles (id, pos, 16-byte hash) rows —
    * never text; the per-document cut list (a few ints per island) is
    * what joins back to the bodies, and the text rebuild is one
    * codegen'd higher-order fold per row. Window state during island
    * merging is O(1) running max, partitioned by document.
    *
    * Output: every input row as (idCol, clean_text, n_removed) —
    * untouched documents pass through with n_removed = 0.
    */
  def spanRemove(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 40,
      selPrefix: String = "0"): DataFrame =
    spanRemoveFromGrams(df, textCol, idCol, k,
      spanGramPositions(df, textCol, idCol, k, selPrefix))

  /** [[spanRemove]] over a precomputed [[spanGramPositions]] frame
    * (shared-scan form — see [[spanOverlapPairsFromGrams]]). `k` must be
    * the value the grams were sampled with (it sets deletion extents). */
  def spanRemoveFromGrams(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      grams: DataFrame): DataFrame = {
    val sel = grams
    // First corpus-wide occurrence (min (id, p)) and total occurrence
    // count per gram hash, in one aggregation.
    val firsts = sel
      .groupBy("h")
      .agg(min(struct(col("id"), col("p"))).as("w"), count(lit(1)).as("gdf"))
      .filter(col("gdf") >= 2)
      .select(col("h"), col("w"))
    val marks = sel.join(firsts, Seq("h"))
      .filter(!(col("id") === col("w.id") && col("p") === col("w.p")))
      .select(col("id"), col("p").as("s"), (col("p") + lit(k)).as("e"))
    // Merge overlapping/adjacent [s, e) marks into islands: a mark opens
    // a new island iff it starts beyond every previous mark's end.
    val w = Window.partitionBy("id").orderBy("s", "e")
    val islands = marks
      .withColumn("prev_max",
        max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens",
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1).otherwise(0))
      .withColumn("isl",
        sum("opens").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "isl")
      .agg(min("s").as("s"), max("e").as("e"))
    val cuts = islands
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("cut"),
        sum(col("e") - col("s")).as("n_removed"))
    // Rebuild: fold over the cut list keeping [prev, s) segments, then
    // the tail from the last cut's end.
    val t = col(textCol)
    val rebuilt = concat(
      aggregate(
        col("cut"),
        struct(lit("").cast("string").as("acc"), lit(1).as("prev")),
        (st, c) => struct(
          concat(st("acc"), t.substr(st("prev"), c("s") - st("prev"))).as("acc"),
          c("e").as("prev")),
        st => st("acc")),
      t.substr(
        element_at(col("cut"), -1)("e"),
        length(t) - element_at(col("cut"), -1)("e") + lit(1)))
    df.join(cuts, df(idCol) === cuts("id"), "left")
      .select(df(idCol),
        when(col("cut").isNull, t).otherwise(rebuilt).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).cast("long").as("n_removed"))
  }

  /** Rows of `df` surviving near-dup clustering: one representative (the
    * minimum id) per connected component of `pairs`, plus every row that
    * appears in no pair. */
  def keepRepresentatives(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      aCol: String,
      bCol: String): DataFrame = {
    val drop = clusters(pairs, aCol, bCol)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** [[keepRepresentatives]] with a caller-chosen election: one row per
    * near-dup cluster, the FIRST in `order` (e.g. quality desc, id asc —
    * keep the best duplicate, not the lowest-numbered one; include a
    * unique tiebreak for determinism). Rows in no pair are their own
    * singleton cluster and always survive.
    *
    * Scale shape: the label join is id-keyed; the election is the
    * group-limited top-1 window of [[Sampling.stratifiedQuota]] — never
    * a full per-cluster sort. */
  def keepRepresentativesBy(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      aCol: String,
      bCol: String,
      order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val labels = clusters(pairs, aCol, bCol)
      .select(col("id").as("__nd_id"), col("cluster").as("__nd_cluster0"))
    val labeled = df
      .join(labels, df(idCol) === col("__nd_id"), "left")
      .withColumn("__nd_cluster", coalesce(col("__nd_cluster0"), df(idCol)))
      .drop("__nd_id", "__nd_cluster0")
    Sampling.stratifiedQuota(labeled, Seq(col("__nd_cluster")), order, 1)
      .drop("__nd_cluster")
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, LSH-blocked
    * — the sub-quadratic path next to the exact [[embeddingCosine]]:
    * vectors get a `planes`-bit random-hyperplane sign signature, the
    * bits split into `bands` band keys, candidate pairs are generated by
    * a self-join on matching (band, key) buckets only, and exact cosine
    * verifies every candidate (so false positives are impossible — the
    * approximation is recall-only). A pair at angle θ shares one plane
    * with probability p = 1 − θ/π and surfaces with probability
    * 1 − (1 − p^(planes/bands))^bands — designed for high thresholds
    * (≥ ~0.7), where near-dup pairs sit at small angles and long bands
    * keep buckets selective. The default (256, 32) misses a cosine-0.93
    * pair with probability ~3·10⁻⁷. */
  def embeddingCosineLsh(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      planes: Int = 256,
      bands: Int = 32,
      seed: Long = 7L): DataFrame =
    embeddingCosineLshRaw(df, vecCol, idCol, threshold, planes, bands, seed)
      .select(col(idCol + "_a"), col(idCol + "_b"),
        round(col("cosine"), 6).as("cosine"))

  /** [[embeddingCosineLsh]] with the verification cosine left UNROUNDED —
    * the banding candidates do not depend on the threshold at all, so a
    * caller needing the same (planes, bands, seed) pair source at several
    * thresholds can materialize this once at the lowest threshold and
    * derive each higher one by an exact raw-cosine filter (filtering the
    * ROUNDED value instead would misclassify cosines within half an ulp
    * of the 6-dp boundary). */
  private[graft] def embeddingCosineLshRaw(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      planes: Int = 256,
      bands: Int = 32,
      seed: Long = 7L): DataFrame = {
    require(planes % bands == 0, "planes must divide into bands")
    require(planes / bands <= 64, "at most 64 planes per band (packed key)")
    val r = planes / bands
    val spark = df.sparkSession
    import spark.implicits._
    // Vectors + norms materialized once: consumed by the banding pass and
    // both sides of the verification join. Zero-norm vectors are dropped
    // (same contract as Similarity.normalized): their cosine is 0/0 =
    // NaN, and NaN >= threshold is TRUE under Spark SQL's NaN-is-largest
    // ordering — without the filter a zero vector would emit NaN pairs
    // the exact JVM-compared embeddingCosine never emits.
    val e = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .transform(graft.Tables.checkpoint)
    val dim = Similarity.dimOf(e, "v")
    val hp: Array[Array[Double]] =
      Similarity.hyperplanes(dim, planes, seed).map(_.toArray).toArray
    val hpB = spark.sparkContext.broadcast(hp)
    val nb = bands
    // Signatures in one per-partition primitive pass (planes × dim
    // multiplies per vector — a HOF-lambda dot here runs interpreted and
    // costs an order of magnitude more). The band key is the band's sign
    // bits packed into a Long: same bucket equivalence classes as any
    // hash of the bits, no hashing needed.
    val banded = e.select(col("id"), col("v")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val planesArr = hpB.value
        it.flatMap { case (id, vs) =>
          val v = vs.toArray
          Similarity.requireBandDim(v.length, planesArr)
          (0 until nb).map { b =>
            var key = 0L
            var p = b * r
            while (p < (b + 1) * r) {
              val plane = planesArr(p)
              var d = 0.0
              var j = 0
              while (j < plane.length) { d += v(j) * plane(j); j += 1 }
              key = (key << 1) | (if (d > 0) 1L else 0L)
              p += 1
            }
            (id, b, key)
          }
        }
      }.toDF("id", "band", "bkey")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Exact verification on candidates only; the fused native dot keeps
    // accumulation in index order, so values match [[embeddingCosine]]
    // bit-for-bit and the exact operator remains the oracle path.
    cand
      .join(e.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cosine", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a").as(idCol + "_a"), col("id_b").as(idCol + "_b"),
        col("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold` — exact over
    * all pairs, evaluated block-blocked: vectors group into hash blocks,
    * block pairs (a ≤ b) meet once, and a per-partition primitive loop
    * scores each block pair (double accumulation in index order, so the
    * values are engine-reproducible). The pair space is still inherently
    * O(n²) — that is what *exact* threshold search costs; for the
    * sub-quadratic approximate path use [[embeddingCosineLsh]].
    *
    * `numBlocks <= 0` (default) sizes blocks adaptively to ~20k vectors
    * per block so a block row stays bounded at any corpus size. */
  def embeddingCosine(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      numBlocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val e = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val nb =
      if (numBlocks > 0) numBlocks
      else math.min(65536L, math.max(16L, e.count() / 20000L + 1)).toInt
    val blocks = e
      .groupBy(pmod(xxhash64(col("id")), lit(nb)).as("blk"))
      .agg(collect_list(struct(col("id").as("_1"), col("v").as("_2"))).as("items"))
    val t = threshold
    val pairs = blocks.select(col("blk").as("blk_a"), col("items").as("items_a"))
      .join(blocks.select(col("blk").as("blk_b"), col("items").as("items_b")),
        col("blk_a") <= col("blk_b"))
      .select((col("blk_a") === col("blk_b")).as("same"),
        col("items_a"), col("items_b"))
      .as[(Boolean, Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])])]
      .mapPartitions { it =>
        def prep(xs: Seq[(Long, Seq[Double])]): Array[(Long, Array[Double], Double)] =
          xs.map { case (id, v) =>
            val a = v.toArray
            var nrm = 0.0
            var j = 0
            while (j < a.length) { nrm += a(j) * a(j); j += 1 }
            (id, a, math.sqrt(nrm))
          }.toArray
        it.flatMap { case (same, ia, ib) =>
          val as = prep(ia)
          val bs = prep(ib)
          val out = Seq.newBuilder[(Long, Long, Double)]
          var x = 0
          while (x < as.length) {
            val (idx, vx, nx) = as(x)
            var y = 0
            while (y < bs.length) {
              val (idy, vy, ny) = bs(y)
              // Same block: each unordered pair is seen twice — keep the
              // idx < idy visit. Distinct blocks: seen once — emit with
              // ids ordered.
              if (idx != idy && (!same || idx < idy)) {
                var d = 0.0
                var j = 0
                while (j < vx.length) { d += vx(j) * vy(j); j += 1 }
                val c = d / (nx * ny)
                if (c >= t) {
                  if (idx < idy) out += ((idx, idy, c)) else out += ((idy, idx, c))
                }
              }
              y += 1
            }
            x += 1
          }
          out.result()
        }
      }.toDF(idCol + "_a", idCol + "_b", "c")
    pairs.select(col(idCol + "_a"), col(idCol + "_b"), round(col("c"), 6).as("cosine"))
  }
}
