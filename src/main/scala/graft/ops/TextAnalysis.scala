package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, and document
  * fingerprinting (SURVEY §2 #25–28).
  *
  * Everything here is a pure built-in-expression `Column` — no UDFs — so
  * the whole pack stays inside WholeStageCodegen and scales as a narrow
  * map over the document scan: no shuffle, no state, embarrassingly
  * parallel at 100 TB. Patterns are ASCII-oriented to keep Java-regex
  * (Spark) and RE2 (DuckDB oracle) semantics identical.
  */
object TextAnalysis {

  /** Whitespace-delimited token count (no empty tokens). */
  def wsTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\S+"), lit(0)))

  /** BPE-ish token count: letter runs, single digits, single punctuation —
    * the shape of byte-pair pre-tokenization without a vocab. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Punctuation (non-alphanumeric, non-space) character count. */
  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[^A-Za-z0-9\\s]"), lit(0)))

  /** Count of English stopword occurrences (word-boundary matched). */
  def stopwordCount(c: Column): Column =
    size(regexp_extract_all(lower(c),
      lit("\\b(the|a|an|and|of|to|in|is|it|that|for)\\b"), lit(0)))

  /** Gopher-style intra-document n-gram repetition rules (Rae et al.
    * 2021 §A1.1): the fraction of bigram occurrences taken by the
    * single most frequent bigram, and the fraction of trigram
    * occurrences whose trigram repeats within the document — high
    * values flag keyword-stuffed or template-looped text that the
    * line-level [[repetitionRatio]] misses. Returns (idCol, n_bigrams,
    * top_bigram_frac, dup_trigram_frac); documents too short for a
    * window get 0 counts and null fractions.
    *
    * Scale shape: n-gram streams are narrow zips of the token array
    * with its own tails; both fractions are (id, gram)-keyed counts
    * with partial aggregation — never text on an exchange (grams
    * reduce to xxhash64). */
  def ngramRepetition(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = LanguageModel.tokens(col(textCol))
    // The token array is BOUND as a lambda variable (single-element
    // array + transform) so it evaluates once per row: referencing the
    // regexp_extract_all expression directly from every element_at
    // would re-run the tokenizer per window element — O(doc²) regex
    // work (observed 20 s → 2 s at sf0.1).
    def grams(n: Int) = element_at(
      transform(array(toks), t =>
        when(size(t) >= n,
          transform(sequence(lit(1), size(t) - (n - 1)), i =>
            xxhash64(concat_ws(" ",
              (0 until n).map(j => element_at(t, i + j)): _*))))
          .otherwise(array().cast("array<bigint>"))),
      1)
    // CPU-dense gram construction on a typically single-split scan —
    // spread first (fanOut: no-op on a wide at-scale input).
    val base = graft.Tables.fanOut(df)
      .select(col(idCol), grams(2).as("bg"), grams(3).as("tg"))
    val bi = base.select(col(idCol), explode(col("bg")).as("g"))
      .groupBy(idCol, "g").agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum("c").as("n_bigrams"), max("c").as("top_c"))
    val tri = base.select(col(idCol), explode(col("tg")).as("g"))
      .groupBy(idCol, "g").agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum("c").as("n_trigrams"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_c"))
    df.select(col(idCol))
      .join(bi, Seq(idCol), "left")
      .join(tri, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("top_c").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        (col("dup_c").cast("double") / col("n_trigrams")).as("dup_trigram_frac"))
  }

  /** Corpus-wide n-gram novelty: per document, the fraction of its
    * DISTINCT word n-grams that occur in no other document (and never
    * twice anywhere) — a boilerplate/templating signal finer than whole
    * near-dup detection: low novelty means the document is assembled
    * from phrases the corpus already contains.
    *
    * Scale shape: same machinery as [[graft.ops.Decontaminate]] — word
    * shingles reduce to 64-bit hashes per partition (the exchange never
    * carries text), one hash-keyed df count with partial aggregation,
    * one id-keyed profile aggregation. Returns
    * (idCol, n_shingles, n_shared, novelty); documents with fewer than
    * `n` tokens have zero shingles and a null novelty.
    */
  def noveltyProfile(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 5): DataFrame = {
    require(n > 0, "n must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val nn = n
    // JVM shingling is CPU-bound per row — single-split-scan discipline
    // (see Dedup.cappedShingleIndex).
    val sh = graft.Tables.fanOut(
        df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
          .filter(col("t").isNotNull))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (i, t) =>
        graft.ops.Dedup.shinglesJvm(t, nn).map(s => (i, graft.ops.Hashing.xxh64(s, 42L)))
      })
      .toDF("id", "h")
    val dfh = sh.groupBy("h").agg(count(lit(1)).as("hdf"))
    val prof = sh.join(dfh, Seq("h"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("hdf") >= 2, 1L).otherwise(0L)).as("n_shared"))
    df.select(col(idCol))
      .join(prof, df(idCol) === prof("id"), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(lit(1.0) - col("n_shared").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
  }

  /** Inverted index over the corpus: one row per `[a-z]+` token with its
    * document frequency and a comma-joined sorted posting list — the
    * search-side artifact a keyword-retrieval layer consumes. Tokens with
    * doc_freq > `maxDf` are dropped: stopword-class postings would each
    * carry the whole corpus (the same hot-key cap discipline as the
    * shingle df cap), and selective retrieval never reads them anyway.
    *
    * Scale shape — two passes so the heavy state is bounded BEFORE it
    * builds: pass 1 is a fixed-width doc_freq count per token (partial
    * aggregation, bytes of state per key); only tokens surviving the
    * maxDf filter reach pass 2 via a semi-join, so no collect_list ever
    * accumulates more than maxDf ids. A single-pass formulation would
    * assemble the full posting array for stopword-class tokens (the
    * whole corpus each) and drop it only after aggregation — unbounded
    * state at exactly the keys the cap exists for. Both passes recompute
    * the narrow explode (cheaper than caching the token stream). */
  def invertedIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDf: Int = 1000): DataFrame = {
    require(maxDf >= 1, "maxDf must be positive")
    // Both passes re-run this tokenize+explode (see note above) — spread
    // the typically single-split scan so each runs cluster-wide.
    val toks = graft.Tables.fanOut(df).select(col(idCol).as("__doc"),
      explode(array_distinct(
        regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0))))
        .as("token"))
    val surviving = toks
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") <= maxDf)
    toks
      .join(surviving.select("token"), Seq("token"), "left_semi")
      .groupBy("token")
      .agg(array_join(
        transform(sort_array(collect_list(col("__doc"))), _.cast("string")),
        ",").as("postings"))
      .join(surviving, Seq("token"))
      .select(col("token"), col("doc_freq"), col("postings"))
  }

  /** Normalized form used for fingerprinting: lowercase, trimmed,
    * whitespace runs collapsed to single spaces. */
  def normalized(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** 128-bit content fingerprint of the normalized text (hex md5). */
  def fingerprint(c: Column): Column = md5(normalized(c))

  /** Cheap 64-bit rolling fingerprint for in-engine use (xxhash64 —
    * not cross-engine comparable, but 2× cheaper than md5 at scale). */
  def fastFingerprint(c: Column): Column = xxhash64(normalized(c))

  /** Heuristic quality score in [0,1]: rewards moderate length, low
    * punctuation density, and a natural stopword ratio. Deterministic
    * arithmetic only, so it is oracle-checkable. */
  def qualityScore(c: Column): Column = {
    val n = greatest(length(c), lit(1)).cast("double")
    val toks = greatest(wsTokenCount(c), lit(1)).cast("double")
    val punctRatio = punctCount(c).cast("double") / n
    val stopRatio = stopwordCount(c).cast("double") / toks
    val lenScore = least(n / lit(200.0), lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio * 4.0, lit(0.0))
    val stopScore = least(stopRatio * 5.0, lit(1.0))
    (lenScore + punctScore + stopScore) / 3.0
  }

  /** Stopword-profile language ID over {en, de, es, fr, zh-pinyin-ish}.
    * Scores = word-boundary stopword hits per language; argmax wins, ties
    * broken by language-code order. Returns "und" when nothing matches. */
  val langProfiles: Seq[(String, String)] = Seq(
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|zu|den|von)\\b",
    "en" -> "\\b(the|and|of|to|in|is|it|that|for|was)\\b",
    "es" -> "\\b(el|la|los|las|y|es|en|un|una|por|que)\\b",
    "fr" -> "\\b(le|la|les|et|est|en|un|une|du|pour|que)\\b",
    "zh" -> "\\b(de|shi|bu|le|wo|ni|ta|zai|you|hen)\\b"
  )

  def langScores(c: Column): Seq[(String, Column)] =
    langProfiles.map { case (lang, pat) =>
      lang -> size(regexp_extract_all(lower(c), lit(pat), lit(0)))
    }

  def langId(c: Column): Column = {
    val scores = langScores(c)
    val best = scores.map(_._2).reduce(greatest(_, _))
    // First language (in code order) achieving the max; "und" if max == 0.
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Line-repetition ratio in [0, 1]: 1 − (distinct lines / lines),
    * empty lines ignored — the Gopher-style repetition signal (template
    * spam and boilerplate-heavy pages repeat themselves; prose doesn't).
    * Pure expression arithmetic, oracle-checkable. */
  def repetitionRatio(c: Column, delim: String = "\n"): Column = {
    val lines = filter(split(c, delim), l => length(trim(l)) > 0)
    // Empty/blank documents score 0 (nothing repeats), not 1 — a
    // repetition gate must not flag emptiness as template spam.
    when(size(lines) === 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(lines)).cast("double") / size(lines).cast("double"))
  }

  /** PII redaction: emails, long digit runs (phone-ish), and dotted
    * quads (IP-ish) replaced by type tokens — the standard scrub pass
    * before corpus release. ASCII regexes, replace-all, identical
    * semantics in Spark (Java regex) and DuckDB RE2 ('g' flag). */
  def redactPii(c: Column): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b[0-9][0-9 ()+-]{6,}[0-9]\\b", "<PHONE>")
  }

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03): the
    * window-min selection over k-gram rolling hashes of the normalized
    * text. Guarantees: any shared substring of length ≥ w+k−1 between two
    * documents yields at least one shared selected hash, and the density
    * of selected hashes is ~2/(w+1) — a compact, position-robust sketch
    * for plagiarism-style overlap detection (the md5 [[fingerprint]] only
    * catches whole-document equality).
    *
    * Pure JVM per-partition pass (no shuffle); returns the distinct
    * selected hashes sorted ascending for set-style comparison.
    */
  def winnow(text: String, k: Int = 5, w: Int = 4): IndexedSeq[Long] = {
    require(k > 0 && w > 0)
    val s = text.toLowerCase.trim.replaceAll("\\s+", " ")
    if (s.length < k) return Vector.empty
    // Polynomial rolling hash over chars, base 257 mod 2^64.
    val base = 257L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= base; i += 1 }
    val hashes = new Array[Long](s.length - k + 1)
    var h = 0L
    i = 0
    while (i < s.length) {
      h = if (i < k) h * base + s.charAt(i)
          else (h - s.charAt(i - k) * pow) * base + s.charAt(i)
      if (i >= k - 1) hashes(i - k + 1) = graft.cmf.CollectiveALS.splitmix64(h)
      i += 1
    }
    if (hashes.length <= w) Vector(hashes.min)
    else {
      // Classic winnowing: rightmost minimum per window; record on change.
      val out = scala.collection.mutable.LinkedHashSet.empty[Long]
      var windowStart = 0
      while (windowStart + w <= hashes.length) {
        var minIdx = windowStart
        var j = windowStart + 1
        while (j < windowStart + w) {
          if (hashes(j) <= hashes(minIdx)) minIdx = j
          j += 1
        }
        out += hashes(minIdx)
        windowStart += 1
      }
      out.toVector.sorted
    }
  }

  /** [[winnow]] over a DataFrame column: adds `fp_winnow:
    * array<bigint>`. */
  def winnowFingerprint(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (kk, ww) = (k, w)
    // null text → empty fingerprint, not a dropped row: this operator's
    // output IS the per-doc fingerprint, so every input id must survive
    // (consumers join it back to the corpus).
    graft.Tables.fanOut(
        df.select(col(idCol).cast("long").as("id"),
          coalesce(col(textCol), lit("")).as("t")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, winnow(t, kk, ww)) })
      .toDF(idCol, "fp_winnow")
  }

  /** Document-level token co-occurrence PMI — the word-association
    * matrix of the count-based embedding era (Church & Hanks 1990):
    * pmi(a,b) = ln( N·n_ab / (df_a·df_b) ) over distinct-per-document
    * token sets, emitted for pairs with `n_ab ≥ minPairCount` in
    * canonical (tok_a < tok_b) order.
    *
    * Scale shape: the corpus collapses to the distinct (doc, token)
    * incidence table first (dedup with map-side combine), the pair
    * space is generated by a doc-keyed self-join of that table — never
    * a token-space cross product — and `minPairCount` plays the same
    * hot-key/long-tail control as the shingle df cap: at web scale you
    * also cap per-doc distinct tokens (drop df-top stopwords) before
    * the self-join, which this accepts as a pre-filtered input. */
  def pmiPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minPairCount: Long = 1L): DataFrame = {
    require(minPairCount >= 1, "minPairCount must be >= 1")
    val dt = graft.Tables.fanOut(df)
      .select(col(idCol).as("doc_id"),
        explode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0)))
          .as("t"))
      .distinct()
    val nDocs = df.agg(count(lit(1)).as("nd"))
    val dfc = dt.groupBy("t").agg(count(lit(1)).as("dfc"))
    dt.as("a")
      .join(dt.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("tok_a"), col("b.t").as("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
      .join(broadcast(dfc.select(col("t").as("tok_a"), col("dfc").as("df_a"))), "tok_a")
      .join(broadcast(dfc.select(col("t").as("tok_b"), col("dfc").as("df_b"))), "tok_b")
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        round(log(col("n_ab") * col("nd") / (col("df_a") * col("df_b"))), 6)
          .as("pmi"))
  }

  /** Windowed skip-gram pair counts — word2vec/SGNS training-pair
    * generation: for every token position i, the ordered pairs
    * (t[i], t[i+d]) for d = 1..`window`, counted corpus-wide and gated
    * at `minCount`. Complements [[pmiPairs]] (doc-level co-occurrence):
    * this is the POSITIONAL window that embedding training consumes.
    *
    * Scale shape: pair generation is fully NARROW — each document zips
    * its own token array against `window` shifted slices of itself in
    * one codegen `transform∘zip_with`, so no positional self-join and
    * no shuffle before the (w, c)-keyed count, which partial-aggregates
    * map-side. At web scale the `minCount` gate is the long-tail
    * control, exactly as in word2vec's vocabulary pruning. */
  def skipGramPairs(
      df: DataFrame,
      textCol: String,
      window: Int,
      minCount: Long = 1L): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0))
    df.select(toks.as("toks"))
      .select(explode(flatten(transform(
        sequence(lit(1), lit(window)),
        d => zip_with(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - d, lit(0))),
          slice(col("toks"), d + lit(1), greatest(size(col("toks")) - d, lit(0))),
          (a, b) => struct(a.as("w"), b.as("c")))))).as("p"))
      .groupBy(col("p.w").as("w"), col("p.c").as("c"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minCount)
  }

  /** TF-IDF cosine retrieval — the vector-space sibling of
    * [[bm25Search]]: documents as L2-normalized tf·idf vectors
    * (idf = ln(N/df)), the query as an idf-weighted term vector, score
    * = cosine similarity, top-`k` by (score desc, doc_id). Zero-idf
    * query terms (df = N: present in every document) carry no
    * information and are dropped; if every query term is zero-idf the
    * result is empty rather than 0/0 scores.
    *
    * Scale shape: the postings (doc, term, tf) table is built once with
    * partial aggregation; doc norms are a per-doc reduce of the SAME
    * table (no second corpus scan); the query side is a |terms|-row
    * broadcast, so scoring touches only postings of query terms —
    * the classic impact-ordered retrieval shape, never a corpus-wide
    * pairwise product. */
  def tfidfSearch(
      df: DataFrame,
      textCol: String,
      idCol: String,
      query: Seq[String],
      k: Int = 10): DataFrame = {
    require(query.nonEmpty && k > 0, "need query terms and k > 0")
    val terms = query.map(_.toLowerCase).distinct
    val docId = coalesce(col(idCol).cast("long"),
      raise_error(lit("tfidfSearch: doc ids must be numeric and non-null")))
    val tf = graft.Tables.fanOut(df)
      .select(docId.as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit("[A-Za-z0-9]+"), lit(0)))
          .as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val consts = df.agg(count(lit(1)).as("n_docs"))
    val weights = tf.join(dft, "term")
      .crossJoin(broadcast(consts))
      .withColumn("w", col("tf") * log(col("n_docs") / col("df")))
    val norms = weights.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val qw = dft.filter(col("term").isin(terms: _*))
      .crossJoin(broadcast(consts))
      .withColumn("qw", log(col("n_docs") / col("df")))
      .filter(col("qw") > 0)
      .select("term", "qw")
    val qnorm = qw.agg(sqrt(sum(col("qw") * col("qw"))).as("qnorm"))
    weights.join(broadcast(qw), "term")
      .groupBy("doc_id")
      .agg(sum(col("w") * col("qw")).as("dot"), count(lit(1)).as("n_terms_hit"))
      .join(norms, "doc_id")
      .crossJoin(broadcast(qnorm))
      .select(col("doc_id"),
        round(col("dot") / (col("norm") * col("qnorm")), 6).as("score"),
        col("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-document lexical diversity — the vocabulary-richness quality
    * signals (a template-stamped or keyword-stuffed page has low
    * type-token ratio; natural prose hapax share sits near 0.4-0.6):
    * (idCol, n_tokens, n_types, ttr, hapax_ratio), zero-token docs kept
    * with nulls for the ratios.
    *
    * Scale shape: one explode → (doc, token) partial-agg count →
    * per-doc reduce; everything is keyed by doc id so the shuffles are
    * corpus-token-bounded with map-side combine, and the final left
    * join re-attaches empty docs without shuffling the corpus (ids
    * only). */
  def lexicalDiversity(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val perType = graft.Tables.fanOut(df)
      .select(col(idCol),
        explode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0)))
          .as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("n"))
    val perDoc = perType
      .groupBy(col(idCol))
      .agg(
        sum("n").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        round(col("n_types") / col("n_tokens"), 6).as("ttr"),
        round(col("n_hapax") / col("n_tokens"), 6).as("hapax_ratio"))
  }

  // ---- DataFrame-level conveniences -------------------------------------

  /** Per-document token statistics. */
  def stats(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    graft.Tables.fanOut(df).select(
      df.columns.toIndexedSeq.map(col) :+
        length(c).as("n_chars") :+
        wsTokenCount(c).as("n_ws_tokens") :+
        bpeTokenCount(c).as("n_bpe_tokens") :+
        punctCount(c).as("n_punct"): _*)
  }

  /** Per-document quality features + score. */
  def quality(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    graft.Tables.fanOut(df).select(
      df.columns.toIndexedSeq.map(col) :+
        round(qualityScore(c), 6).as("quality_score"): _*)
  }

  /** Top-`k` BM25-weighted terms per document — the classic corpus-level
    * term relevance score (Robertson-Spärck Jones idf × saturated tf),
    * the keyword/topic extraction step of a training-data pipeline, as
    * one declarative plan.
    *
    * Terms are lowercased ASCII-alphanumeric runs (extract-then-lower so
    * the Java and RE2/utf8proc engines agree byte-for-byte). Documents
    * with no terms produce no rows.
    *
    * Scale shape: tf is one hash aggregation over the exploded tokens
    * (map-side partial agg absorbs each doc's repeats); dl rides a
    * window on the same doc_id partitioning; the per-term df join
    * shuffles on the term key (vocabularies are too big to broadcast at
    * corpus scale); the two corpus constants (N, avgdl) broadcast as a
    * single row. No O(n²) stage anywhere.
    *
    * Output: (doc_id, term, score, rank) with rank 1..k per doc by
    * rounded score descending, term ascending tiebreak (rounding first
    * makes near-ties deterministic across engines). */
  def bm25TopTerms(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    bm25TermScores(df, textCol, idCol, k1, b)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("score"), col("rank"))
  }

  /** BM25 keyword retrieval: top-k documents by summed BM25 score over
    * the query's terms — the search side of the keyword machinery.
    * Returns (doc_id, score, n_terms_hit), best first (doc_id tiebreak).
    *
    * Scale shape: the tiny term list filters the term-score frame
    * (Catalyst pushes it into the tf aggregation), and the final top-k
    * is an order-limit — TakeOrderedAndProject, no global sort. */
  def bm25Search(
      df: DataFrame,
      textCol: String,
      idCol: String,
      query: Seq[String],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(query.nonEmpty && k > 0, "need query terms and k > 0")
    val terms = query.map(_.toLowerCase).distinct
    bm25TermScores(df, textCol, idCol, k1, b)
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(round(sum("score"), 6).as("score"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty 2001) — the language-modeling ranking next to BM25:
    * score(d) = Σ_q ln((tf_dq + μ·cf_q/|C|)/(|d| + μ)), so EVERY
    * document scores (a no-hit doc falls back to pure background
    * mass), unlike BM25's hit-only ranking. Per-term log values ride
    * as integer NANO-units round-then-summed (the |q|-term sum is then
    * order-independent on both engines), and the top-k ranks on that
    * exact integer (round-then-rank, doc_id tiebreak). Scale shape:
    * one token explode → (doc, term) counts; the query-side stats are
    * |q| rows broadcast against the per-doc length table — the scan
    * never sees more than the tf table. */
  def queryLikelihoodSearch(
      df: DataFrame,
      textCol: String,
      idCol: String,
      query: Seq[String],
      k: Int = 10,
      mu: Double = 2000.0): DataFrame = {
    require(query.nonEmpty && k > 0, "need query terms and k > 0")
    val terms = query.map(_.toLowerCase).distinct
    val toks = graft.Tables.fanOut(df)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit("[A-Za-z0-9]+"), lit(0))).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val ctot = toks.agg(count(lit(1)).as("ctot"))
    // Query terms absent from the corpus would put ln(0) in every
    // score; the standard convention drops them, which the inner
    // grouping does by construction (cf only has observed terms).
    val qterms = toks.filter(col("term").isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).as("cf"))
      .crossJoin(ctot)
    dl.crossJoin(broadcast(qterms))
      .join(tf, Seq("doc_id", "term"), "left")
      .withColumn("tf", coalesce(col("tf"), lit(0L)))
      .withColumn("lterm", round(log(
        (col("tf") + lit(mu) * col("cf") / col("ctot"))
          / (col("dl") + lit(mu))) * lit(1000000000.0)).cast("long"))
      .groupBy("doc_id")
      .agg(sum("lterm").as("snano"),
        sum(when(col("tf") > 0, 1L).otherwise(0L)).as("n_terms_hit"))
      .select(col("doc_id"),
        round(col("snano") / lit(1000000000.0), 6).as("score"), col("n_terms_hit"),
        col("snano"))
      .orderBy(col("snano").desc, col("doc_id"))
      .limit(k)
      .drop("snano")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): damped
    * PageRank over the undirected adjacent-token co-occurrence graph
    * (edges = bigram pairs seen ≥ `minCount` times), top-k words by
    * stationary score. The iteration state is integer PICO-units —
    * each neighbor contribution rounds to a long before the grouped
    * sum, and each new score re-rounds — so all five iterations are
    * bit-identical across engines and the final ranking is exact
    * (round-then-rank on the integer score, word tiebreak). Same
    * join-shuffle-agg shape as [[graft.ops.PageRank]]; lineage is
    * checkpoint-truncated per iteration; driver state is one vertex
    * count. */
  def textrankKeywords(
      df: DataFrame,
      textCol: String,
      k: Int = 20,
      minCount: Long = 2L,
      iterations: Int = 5): DataFrame = {
    // Tokenize+explode is CPU-bound per row and the corpus often arrives
    // as one parquet split — distribute the rows before the narrow scan
    // (fanOut: no-op on a wide at-scale scan).
    val bg = graft.Tables.fanOut(df)
      .select(
        explode(graft.ops.LanguageModel.bigrams(col(textCol))).as("bg"))
      .select(col("bg.a").as("wa"), col("bg.b").as("wb"))
      .filter(col("wa") =!= col("wb"))
    val pc = bg.groupBy("wa", "wb").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    val edges = pc.select(col("wa").as("s"), col("wb").as("t"))
      .unionAll(pc.select(col("wb").as("s"), col("wa").as("t")))
      .distinct()
      .transform(graft.Tables.checkpoint)
    val deg = edges.groupBy("s").agg(count(lit(1)).as("d")).transform(graft.Tables.checkpoint)
    val n = deg.count()
    if (n == 0) {
      // No co-occurrence edges at all (too few/short docs): no
      // keywords, not a crash.
      return df.sparkSession.range(0)
        .select(col("id").cast("string").as("word"), lit(0.0).as("rank"))
    }
    val base = Math.round(0.15e12 / n)
    var p = deg.select(col("s").as("v"), lit(Math.round(1.0e12 / n)).as("pp"))
    for (_ <- 1 to iterations) {
      p = edges.join(p, col("s") === col("v"))
        .join(deg, "s")
        .groupBy("t")
        .agg(sum(round(col("pp").cast("double") / col("d")).cast("long")).as("m"))
        .select(col("t").as("v"),
          (lit(base) + round(lit(0.85) * col("m")).cast("long")).as("pp"))
        .transform(graft.Tables.checkpoint)
    }
    p.select(col("v").as("word"), round(col("pp") / lit(1.0e12), 6).as("rank"),
        col("pp"))
      .orderBy(col("pp").desc, col("word"))
      .limit(k)
      .drop("pp")
  }

  /** Shared BM25 per-(doc, term) score frame: (doc_id, term, score),
    * score rounded to 6 dp (the rank/sum key both consumers use, so the
    * rounded value IS the semantic). */
  private def bm25TermScores(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k1: Double,
      b: Double): DataFrame = {
    // Checked cast (same contract as the CMF fit): under ANSI the engine
    // rejects non-numeric ids; with ANSI off the cast nulls would merge
    // every bad id into one null pseudo-document — raise instead.
    // Expression-level (coalesce short-circuits), so no extra job.
    val docId = coalesce(col(idCol).cast("long"),
      raise_error(lit("bm25TopTerms: doc ids must be numeric and non-null")))
    val toks = graft.Tables.fanOut(df)
      .select(docId.as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit("[A-Za-z0-9]+"), lit(0))).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val withDl = tf.withColumn("dl",
      sum("tf").over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // Per-doc lengths are integer-valued and their sum stays < 2^53, so
    // avg() is exact (order-independent) on both engines.
    val consts = withDl.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    withDl.join(dft, "term")
      .crossJoin(broadcast(consts))
      .withColumn("score", round(
        log(lit(1.0) +
            (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
        6))
      .select(col("doc_id"), col("term"), col("score"))
  }

  /** Per-token χ² association with a label column — the supervised
    * feature-selection step (which tokens discriminate a language /
    * domain / quality class): for each (token, label), the 2×2
    * document-presence contingency a = docs-in-label-containing,
    * b = label docs without it, c = other-label docs containing,
    * d = the rest, and χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)). The
    * contingency is ALL exact integers from two aggregates (per-label
    * doc frequency + per-label doc counts, both token- or label-keyed
    * partial aggregation), so the derived χ² double is engine-exact;
    * the top-k per label goes through the bounded-heap
    * [[graft.plans.Graft.topKPerGroup]] operator on the ROUNDED score
    * (round-then-rank) — never a vocabulary-scale sort. `minDf` gates
    * rare tokens (χ² is unstable below ~5 expected counts). */
  def tokenChi2(
      df: DataFrame,
      textCol: String,
      idCol: String,
      labelCol: String,
      k: Int = 5,
      minDf: Long = 5L): DataFrame = {
    val toks = graft.Tables.fanOut(df)
      .select(col(idCol).as("doc_id"), col(labelCol).as("label"),
        explode(array_distinct(LanguageModel.tokens(col(textCol)))).as("tok"))
    // a: docs of this label containing tok; df_tok = a + c.
    val perLabel = toks.groupBy("tok", "label").agg(count(lit(1)).as("a"))
    val dfTok = perLabel.groupBy("tok").agg(sum("a").as("df_tok"))
      .filter(col("df_tok") >= minDf)
    val labelSizes = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_label"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val cells = perLabel
      .join(dfTok, "tok")
      .join(broadcast(labelSizes), "label")
      .crossJoin(broadcast(n))
      .withColumn("b", col("n_label") - col("a"))
      .withColumn("c", col("df_tok") - col("a"))
      .withColumn("d", col("n_docs") - col("n_label") - col("c"))
      .withColumn("chi2", round(
        col("n_docs").cast("double")
          * (col("a") * col("d") - col("b") * col("c")).cast("double")
          * (col("a") * col("d") - col("b") * col("c")).cast("double")
          / (col("n_label").cast("double") * (col("n_docs") - col("n_label"))
            * col("df_tok") * (col("n_docs") - col("df_tok"))), 6))
    graft.plans.Graft
      .topKPerGroup(
        cells.select("label", "tok", "a", "df_tok", "chi2"),
        Seq("label"), "chi2", k, descending = true, tiebreak = Seq("tok"))
      .orderBy(col("label"), col("chi2").desc, col("tok"))
  }
}
