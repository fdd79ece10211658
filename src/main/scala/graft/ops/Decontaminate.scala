package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Eval-set decontamination (SURVEY §2 #35): find training documents
  * that share word n-grams with an evaluation/benchmark set — the
  * standard guard against benchmark leakage into training corpora.
  *
  * Scale shape: both sides shingle to 64-bit hashes (the corpus side is
  * the 100 TB one — its shuffle carries 8-byte keys, never text); the
  * eval side is aggregated to DISTINCT shingles first, so it is tiny
  * relative to the corpus (|eval docs| · tokens hashes) and the join
  * side AQE sees is broadcast-or-small-shuffle. One groupBy on the doc
  * id counts distinct shared shingles. n defaults to 8: long enough
  * that natural collisions are rare, short enough to catch paraphrased
  * leakage; real pipelines sweep 8–13.
  */
object Decontaminate {

  /** (idCol, n_hits) for every corpus document sharing ≥ `minHits`
    * distinct n-grams with the eval set. */
  def contaminated(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      n: Int = 8,
      minHits: Int = 1): DataFrame = {
    require(n > 0 && minHits > 0)
    val spark = corpus.sparkSession
    import spark.implicits._
    val nn = n
    def shingled(df: DataFrame, text: String, id: org.apache.spark.sql.Column) =
      df.select(id.cast("long").as("id"), col(text).as("t"))
        .filter(col("t").isNotNull) // null text would NPE in the JVM shingler
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (i, t) =>
          Dedup.shinglesJvm(t, nn).map(s => (i, Hashing.xxh64(s, 42L)))
        })
        .toDF("id", "shingle")
    val corpusSh = shingled(corpus, textCol, col(idCol))
    val evalSh = shingled(evalSet, evalTextCol, monotonically_increasing_id())
      .select("shingle").distinct()
    // shinglesJvm de-dups within a document, so surviving rows are the
    // distinct shared shingles — a plain count is the distinct count.
    corpusSh.join(evalSh, Seq("shingle"), "left_semi")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Semantic decontamination: corpus rows whose embedding sits within
    * cosine `threshold` of ANY eval-set embedding — the guard n-gram
    * overlap can't provide against paraphrased or translated benchmark
    * leakage. Returns (idCol, n_hits, max_cosine), one row per
    * contaminated corpus id.
    *
    * Scale shape: the eval side (benchmarks — thousands of rows, not
    * billions) is broadcast; the corpus streams through one
    * broadcast-nested-loop pass with the codegen'd native dot and is
    * never shuffled; the per-id aggregation is partial. Cost is
    * |corpus|·|eval| dot products — the exact baseline. At eval sets
    * too large for that product, prefilter candidates with
    * [[Similarity.lshTopK]]/[[IvfIndex]] and verify only bucket
    * collisions (same split as exact vs LSH-blocked dedup).
    *
    * Zero-norm vectors on either side are dropped ([[Similarity]]'s
    * contract: their cosine is 0/0 = NaN, which Spark orders above
    * every double). */
  def semanticContaminated(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      evalSet: DataFrame,
      evalVecCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0, "threshold must be positive (NaN-safe)")
    def sided(df: DataFrame, vc: String, v: String, n: String) =
      df.withColumn(v, col(vc).cast("array<double>"))
        .withColumn(n, sqrt(Similarity.dot(col(v), col(v))))
        .filter(col(n) > 0)
    val c = sided(corpus.select(col(idCol), col(vecCol)), vecCol, "__cv", "__cn")
    val e = sided(evalSet.select(col(evalVecCol)), evalVecCol, "__ev", "__en")
      .select("__ev", "__en")
    val cosine = Similarity.dot(col("__cv"), col("__ev")) / (col("__cn") * col("__en"))
    c.join(broadcast(e), cosine >= threshold)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"), max(cosine).as("max_cosine"))
  }

  /** [[contaminated]] with a broadcast BLOOM-FILTER prefilter on the
    * corpus side — the shape that wins when the corpus is 100 TB and
    * the eval shingle set is too big to broadcast as an exact set but
    * compresses to a few MB of Bloom bits (~9.6 bits/key at 1% fpp vs
    * 8 bytes/key exact): the corpus stream drops ~(1 − fpp) of its
    * non-matching shingles BEFORE the shuffle toward the exact
    * semi-join, so the exchange carries only true hits plus the fpp
    * sliver. The exact semi-join then removes false positives, and
    * Bloom filters have NO false negatives — the result is exactly
    * [[contaminated]]'s, which is what the driver oracle checks. */
  def contaminatedBloom(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      n: Int = 8,
      minHits: Int = 1,
      fpp: Double = 0.01): DataFrame = {
    require(n > 0 && minHits > 0 && fpp > 0 && fpp < 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val nn = n
    def shingled(df: DataFrame, text: String, id: org.apache.spark.sql.Column) =
      df.select(id.cast("long").as("id"), col(text).as("t"))
        .filter(col("t").isNotNull)
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (i, t) =>
          Dedup.shinglesJvm(t, nn).map(s => (i, Hashing.xxh64(s, 42L)))
        })
        .toDF("id", "shingle")
    val corpusSh = shingled(corpus, textCol, col(idCol))
    // Eagerly materialized (localCheckpoint): consumed three times —
    // count, Bloom build, exact verify — and the verify must not
    // recompute the shingling after the Bloom bits were built from it.
    val evalSh = shingled(evalSet, evalTextCol, monotonically_increasing_id())
      .select("shingle").distinct()
      .transform(graft.Tables.checkpoint)
    val nEvalRaw = evalSh.count()
    if (nEvalRaw == 0L) {
      // No eval shingles at all (texts shorter than n): nothing can be
      // contaminated — empty result, same schema (bloomFilter over an
      // empty frame would NPE on its null buffer).
      return corpusSh.groupBy(col("id").as(idCol))
        .agg(count(lit(1)).as("n_hits")).filter(lit(false))
    }
    val nEval = nEvalRaw
    val bloom = evalSh.stat.bloomFilter("shingle", nEval, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val cand = corpusSh
      .as[(Long, Long)]
      .mapPartitions { it => // JVM Bloom probe: per-partition primitive pass
        val b = bc.value
        it.filter { case (_, sh) => b.mightContainLong(sh) }
      }
      .toDF("id", "shingle")
    cand.join(evalSh, Seq("shingle"), "left_semi")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Corpus rows with every contaminated document removed — the
    * decontaminated training set. */
  def removeContaminated(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      n: Int = 8,
      minHits: Int = 1): DataFrame = {
    val bad = contaminated(corpus, textCol, idCol, evalSet, evalTextCol, n, minHits)
      .select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti")
  }
}
