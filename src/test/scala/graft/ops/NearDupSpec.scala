package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Recall/precision bounds for the hash-based near-dup detectors against
  * exact ground truth, on the sf0.001 documents with planted mutations. */
class NearDupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val corpus = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    docs.unionAll(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 40, 1))").as("text")))
  }

  /** Exact Jaccard ≥ 0.6 pairs — the ground truth. */
  private lazy val truth: Set[(Long, Long)] =
    Dedup.ngramJaccard(corpus, "text", "doc_id", 3, 0.6)
      .select("doc_id_a", "doc_id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("planted mutations produce ground-truth near-dup pairs") {
    // Most of the 500 planted (id, id+1000000) pairs must clear the 0.6
    // Jaccard bar (a few very short docs lose too much to the truncation);
    // the word-salad corpus also contributes some natural near-dups.
    val planted = truth.count { case (a, b) => b - a == 1000000 }
    assert(planted >= 400, s"only $planted planted pairs in truth")
  }

  test("minhash LSH recall >= 0.9 at its design point, no false positives") {
    val found = Dedup.minHashLsh(corpus, "text", "doc_id", 3, 32, 8, 0.6)
      .select("doc_id_a", "doc_id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Verification is exact, so found ⊆ truth (no false positives)...
    assert(found.subsetOf(truth))
    // ...and the band structure (r=4, b=8) surfaces j >= 0.6 pairs with
    // probability 1-(1-j^4)^8 >= 0.72, in practice near-total here.
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${found.size}/${truth.size})")
  }

  test("r=2 b=32 banding candidates contain every exact j>=0.6 pair") {
    // The containment design point (dedup_minhash_containment): with
    // r=2, b=32 a j >= 0.6 pair is missed with probability
    // (1 - j^2)^32 <= 6e-7 — truth must be a subset of the candidates.
    val cand = Dedup.minHashCandidates(corpus, "text", "doc_id", 3, 64, 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- cand
    assert(missed.isEmpty, s"banding dropped ${missed.size} true pairs: ${missed.take(3)}")
  }

  test("prefixFilterJaccard equals the full inverted-index join exactly") {
    // Prefix filtering is a lossless candidate reduction, so (pairs AND
    // jaccard values) must match ngramJaccard bit-for-bit at the same
    // threshold — not just recall/precision bounds like the LSH family.
    val exact = Dedup.ngramJaccard(corpus, "text", "doc_id", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pf = Dedup.prefixFilterJaccard(corpus, "text", "doc_id", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pf == exact, s"prefix-filter diverged: ${(pf diff exact).take(3)} / ${(exact diff pf).take(3)}")
    assert(pf.nonEmpty)
  }

  test("prefixFilterJaccard honors the shingle df cap symmetrically") {
    val exact = Dedup.ngramJaccard(corpus, "text", "doc_id", 3, 0.6, maxShingleDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pf = Dedup.prefixFilterJaccard(corpus, "text", "doc_id", 3, 0.6, maxShingleDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pf == exact)
  }

  test("simhash hamming<=6 recovers lightly mutated pairs") {
    // SimHash flips bits in proportion to the fraction of shingles
    // changed, so its planted corpus uses a light (~2-token) truncation.
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val light = docs.unionAll(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 12, 1))").as("text")))
    val found = Dedup.simHash(light, "text", "doc_id", 3, 6)
      .select("doc_id_a", "doc_id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = docs.select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    val recall = found.intersect(planted).size.toDouble / planted.size
    assert(recall >= 0.4, s"simhash recall $recall (${found.size} found)")
  }

  test("shingle df cap bounds candidates on a boilerplate-heavy corpus") {
    import spark.implicits._
    // 61 docs sharing one boilerplate sentence, each with a unique tail;
    // doc 1000 is a planted near-dup of doc 0 (tail truncated by 2 tokens).
    // Without a df cap the inverted index joins every doc pair through
    // the boilerplate shingles — the Σ df² blowup the cap exists to stop.
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    def tail(i: Int) = (1 to 20).map(j => s"u${i}w$j").mkString(" ")
    val docs = (0 until 60).map(i => (i.toLong, s"$boiler ${tail(i)}")) :+
      (1000L, s"$boiler ${(1 to 18).map(j => s"u0w$j").mkString(" ")}")
    val corpus = docs.toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(corpus, "text", "doc_id", 3, 0.0)
    // Every one of the 61·60/2 pairs meets through boilerplate shingles.
    assert(uncapped.count() == 61L * 60 / 2)
    // df cap 5 drops the df=61 boilerplate shingles; only the planted
    // pair still shares a discriminative shingle.
    val capped = Dedup.ngramJaccard(corpus, "text", "doc_id", 3, 0.0, maxShingleDf = 5)
      .collect()
    assert(capped.length == 1, s"expected only the planted pair, got ${capped.length}")
    val r = capped.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1000L)
    // Jaccard over the kept (discriminative) shingle space stays high for
    // the true near-dup.
    assert(r.getDouble(2) >= 0.6, s"planted-pair jaccard ${r.getDouble(2)}")
  }

  test("ngramContainment flags a quoted snippet that Jaccard misses") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def words(n: Int, p: String) = (1 to n).map(j => s"$p$j${rnd.nextInt(9)}").mkString(" ")
    val long = words(200, "a")
    val snippet = long.split(" ").take(20).mkString(" ") // 10% prefix quote
    val docs = Seq((1L, long), (2L, snippet), (3L, words(150, "z")))
      .toDF("doc_id", "text")
    // The snippet's shingles are a subset of the parent's → containment 1.0.
    val cont = Dedup.ngramContainment(docs, "text", "doc_id", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), s"got ${cont.toSeq}")
    // Symmetric Jaccard scores the same pair ~18/198 — far under any bar.
    val jac = Dedup.ngramJaccard(docs, "text", "doc_id", 3, 0.5)
    assert(jac.count() == 0, "Jaccard should miss the subset pair")
  }

  test("ngramContainment respects the shingle df cap like ngramJaccard") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    def tail(i: Int) = (1 to 20).map(j => s"u${i}w$j").mkString(" ")
    val docs = (0 until 60).map(i => (i.toLong, s"$boiler ${tail(i)}"))
      .toDF("doc_id", "text")
    // df cap 5 drops the df=60 boilerplate shingles; with each tail unique,
    // no pair shares a surviving shingle.
    assert(Dedup.ngramContainment(docs, "text", "doc_id", 3, 0.0, maxShingleDf = 5)
      .count() == 0)
    // Uncapped, every pair meets through boilerplate.
    assert(Dedup.ngramContainment(docs, "text", "doc_id", 3, 0.0).count() == 60L * 59 / 2)
  }

  test("sortedNeighborhood pairs prefix-sharing near-dups, respects window and edit bar") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def rand(n: Int): String =
      Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val bodies = (0 until 20).map(i => (i.toLong, rand(300)))
    // Mutants share the parent's prefix, differ by a 30-char tail cut.
    val corpus = (bodies ++ bodies.map { case (id, t) => (id + 100L, t.dropRight(30)) })
      .toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhood(corpus, "text", "doc_id",
        keyLen = 40, blockLen = 2, winSize = 2, maxEdit = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val planted = got.filter { case (a, b, _) => b - a == 100L }
    // Random 300-char prefixes collide with nothing: every planted pair
    // is adjacent in its block and verifies at exactly 30 edits.
    assert(planted.length == 20, s"found ${planted.length} of 20")
    assert(planted.forall(_._3 == 30L), s"edit distances ${planted.map(_._3).toSeq}")
    // Unrelated random docs never pass the edit bar.
    assert(got.length == planted.length, s"false positives: ${got.toSeq.diff(planted.toSeq)}")
    // A too-tight edit bar rejects the planted pairs too.
    assert(Dedup.sortedNeighborhood(corpus, "text", "doc_id", maxEdit = 10).count() == 0)
  }

  test("exact dedup on mutated corpus keeps all 2n docs distinct") {
    val n = corpus.count()
    assert(Dedup.exact(corpus, "text", "doc_id").count() == n)
  }

  test("clusters computes connected components over pair chains") {
    import spark.implicits._
    // Components: {1,2,3,4} (a chain), {10,11}, {20,21,22} (a star).
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L), (21L, 22L))
      .toDF("a", "b")
    val got = Dedup.clusters(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L), s"got $got")
  }

  test("clusters converges on long chains within the round budget") {
    import spark.implicits._
    // A 61-node chain with the minimum at one end: diameter 60, far beyond
    // one-hop-per-round reach — requires the pointer-jumping doubling.
    val pairs = (0 until 60).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val got = Dedup.clusters(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 61)
    assert(got.forall(_._2 == 0L), s"non-root labels: ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("clusters leaves only the returned frame's checkpoint persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = (0 until 60).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val before = sc.getPersistentRDDs.keySet
    val got = Dedup.clusters(pairs, "a", "b")
    assert(sc.getPersistentRDDs.keySet -- before == Tables.checkpoints(got).map(_.id).toSet)
    Tables.release(got)
  }

  test("paragraphDedup elects first (id,pos) occurrence; full-dup doc vanishes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\n\nshared para\n\ngamma"),
      (2L, "shared para\n\ndelta"), // 'shared para' first occurred at (1,1)
      (3L, "shared para"),          // every paragraph seen earlier → doc vanishes
      (5L, "solo\n\nsolo"))         // intra-doc repeat: only pos 0 survives
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("alpha beta\n\nshared para\n\ngamma", 3L, 0L)))
    assert(out(2L) == (("delta", 1L, 1L)))
    assert(!out.contains(3L), "fully-duplicated doc must vanish")
    assert(out(5L) == (("solo", 1L, 1L)))
  }

  test("paragraphDedup ignores blank paragraphs and excludes them from n_dropped") {
    import spark.implicits._
    // "\n\n\n\n" yields an empty middle part; it is neither kept nor
    // counted as dropped, and the reassembled text has no blank slot.
    val docs = Seq((1L, "epsilon\n\n\n\nzeta")).toDF("doc_id", "text")
    val r = Dedup.paragraphDedup(docs, "text", "doc_id").collect().head
    assert(r.getString(1) == "epsilon\n\nzeta")
    assert(r.getLong(2) == 2L && r.getLong(3) == 0L)
  }

  test("paragraphDedup honors a custom (regex-metachar) separator") {
    import spark.implicits._
    val docs = Seq((1L, "aa|bb"), (2L, "bb|cc")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "text", "doc_id", sep = "|")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("aa|bb", 2L, 0L)))
    assert(out(2L) == (("cc", 1L, 1L)))
  }

  /** One draw-stream per seed: successive calls return DISTINCT random
    * text (a fresh Random per call would replay the same prefix). */
  private def randTextGen(seed: Int): Int => String = {
    val rnd = new scala.util.Random(seed)
    n => Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
  }

  test("spanOverlapPairs detects a shared span at different offsets only") {
    import spark.implicits._
    val rs = randTextGen(7)
    val span = rs(400)
    // The span sits at different offsets in docs 1 and 2 (content-defined
    // selection is position-independent); doc 3 is disjoint.
    val docs = Seq(
      (1L, rs(100) + span),
      (2L, span + rs(150)),
      (3L, rs(500))).toDF("doc_id", "text")
    val out = Dedup.spanOverlapPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq.map(p => (p._1, p._2)) == Seq((1L, 2L)), s"got ${out.toSeq}")
    // 361 shared grams at a 1/16 sample rate: well above minShared.
    assert(out.head._3 >= 3, s"n_shared ${out.head._3}")
  }

  test("spanOverlapPairs df cap suppresses corpus-wide boilerplate spans") {
    import spark.implicits._
    val rs = randTextGen(11)
    val boiler = rs(200)
    // 30 docs all carrying the same 200-char boilerplate prefix.
    val docs = (1 to 30).map(i => (i.toLong, boiler + rs(60))).toDF("doc_id", "text")
    // Cap 10 < df 30 drops every boilerplate gram — no pairs survive.
    assert(Dedup.spanOverlapPairs(docs, "text", "doc_id", maxGramDf = 10).count() == 0)
    // With headroom, every doc pair meets through the shared span.
    assert(Dedup.spanOverlapPairs(docs, "text", "doc_id").count() == 30L * 29 / 2)
  }

  test("spanDupProfile: repeated span raises ratio; unique and short docs report zero") {
    import spark.implicits._
    val rs = randTextGen(13)
    val shared = rs(300)
    val docs = Seq(
      (1L, shared + rs(100)), // ~261 of 361 grams inside the shared span
      (2L, rs(120) + shared),
      (3L, rs(400)),          // fully unique
      (4L, "tiny"))           // shorter than k
      .toDF("doc_id", "text")
    val out = Dedup.spanDupProfile(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), s"got ${out.keySet}")
    assert(out(1L)._2 > 0 && out(1L)._3 > 0.5, s"doc1 ${out(1L)}")
    assert(out(2L)._2 > 0, s"doc2 ${out(2L)}")
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0, s"doc3 ${out(3L)}")
    assert(out(4L) == ((0L, 0L, 0.0)), s"doc4 ${out(4L)}")
  }

  test("spanOverlapPairs ignores docs shorter than k") {
    import spark.implicits._
    val docs = Seq((1L, "short"), (2L, "short")).toDF("doc_id", "text")
    assert(Dedup.spanOverlapPairs(docs, "text", "doc_id").count() == 0)
  }

  test("keepRepresentatives keeps one doc per planted near-dup component") {
    val pairs = Dedup.minHashLsh(corpus, "text", "doc_id", 3, 32, 8, 0.6)
    val kept = Dedup.keepRepresentatives(corpus, pairs, "doc_id", "doc_id_a", "doc_id_b")
    val total = corpus.count()
    val pairCount = pairs.count()
    val keptCount = kept.count()
    // Every detected pair removes at least one doc (chains remove more
    // than pairs−components, but never fewer than components' extras).
    assert(keptCount < total, s"kept $keptCount of $total with $pairCount pairs")
    // Representatives are originals when the component is a planted
    // (id, id+1000000) pair — the min id always survives.
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val detectedPlanted = pairs.select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => b - a == 1000000L }
    assert(detectedPlanted.nonEmpty)
    // A planted mutation (id+1000000) can never be its component's min id,
    // so it never survives.
    detectedPlanted.foreach { case (_, b) =>
      assert(!keptIds.contains(b), s"mutation $b survived")
    }
  }

  /** Reference implementation of [[Dedup.spanRemove]]'s semantics —
    * per-doc loops over every position, same md5 content sample, same
    * first-(id,pos) election and island merge — for exact comparison. */
  private def localSpanRemove(
      docs: Seq[(Long, String)], k: Int, prefix: String): Map[Long, (String, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hx(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // (hash -> sorted occurrences (id, pos))
    val occ = scala.collection.mutable.Map.empty[String, List[(Long, Int)]]
    for ((id, t) <- docs; p <- 0 to t.length - k) {
      val h = hx(t.substring(p, p + k))
      if (h.startsWith(prefix)) occ(h) = (id, p) :: occ.getOrElse(h, Nil)
    }
    val marks = scala.collection.mutable.Map.empty[Long, List[(Int, Int)]]
    for ((_, os) <- occ if os.length >= 2) {
      val sorted = os.sorted
      for ((id, p) <- sorted.tail)
        marks(id) = (p, p + k) :: marks.getOrElse(id, Nil)
    }
    docs.map { case (id, t) =>
      val islands = marks.getOrElse(id, Nil).sorted
        .foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
          case (acc, m) => m :: acc
        }.reverse
      val sb = new StringBuilder
      var prev = 0
      for ((s, e) <- islands) { sb.append(t.substring(prev, s)); prev = e }
      sb.append(t.substring(prev))
      id -> (sb.toString, islands.map { case (s, e) => (e - s).toLong }.sum)
    }.toMap
  }

  test("spanRemove equals a per-doc reference implementation, first occurrence survives") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def rand(n: Int): String =
      Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val boiler = rand(300) // shared span planted into several docs
    val docs = (0L until 20L).map { id =>
      val own = rand(400 + rnd.nextInt(300))
      val t =
        if (id % 3 == 0) own.take(150) + boiler + own.drop(150)
        else if (id == 7L) boiler + boiler // intra-doc repeat
        else own
      (id, t)
    }
    val expect = localSpanRemove(docs, k = 40, prefix = "0")
    val got = Dedup.spanRemove(docs.toDF("doc_id", "text"), "text", "doc_id",
        k = 40, selPrefix = "0")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got.keySet == docs.map(_._1).toSet)
    for ((id, (txt, n)) <- expect) {
      assert(got(id)._1 == txt, s"doc $id text mismatch")
      assert(got(id)._2 == n, s"doc $id n_removed ${got(id)._2} != $n")
    }
    // The planted boilerplate's first carrier keeps its text intact;
    // later carriers lose sampled extents of it.
    val firstCarrier = docs.filter(_._1 % 3 == 0).map(_._1).min
    assert(got(firstCarrier)._2 == 0L)
    val laterLosses = docs.filter(d => d._1 % 3 == 0 && d._1 != firstCarrier)
      .map(d => got(d._1)._2)
    assert(laterLosses.forall(_ > 0L), s"later carriers unscathed: $laterLosses")
  }

  test("spanRemove passes short and unique docs through untouched") {
    import spark.implicits._
    val docs = Seq((1L, "tiny"), (2L, "x" * 39),
      (3L, new scala.util.Random(5).alphanumeric.take(200).mkString))
      .toDF("doc_id", "text")
    val out = Dedup.spanRemove(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
  }
}
