package graft.cmf

import java.util.concurrent.atomic.AtomicBoolean

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame

/** The blocked fit: equal to a dense single-machine fit under any block
  * geometry, bitwise reproducible, safe to run concurrently on one
  * session, and leaving nothing persisted but the model's tables, which
  * `release` frees. */
class BlockedFitSpec extends SparkSpec {
  import spark.implicits._

  private val rank = 3

  /** Planted rank-3 user–item ratings (with a few repeated pairs) and an
    * item–tag side relation; some ratings are ≤ 0, which the implicit fit
    * counts only as relation membership. Items 0–1 and 12–13 have no tags
    * and items 14–15 no users, so item equations differ in which
    * relations' Grams they merge. */
  private lazy val userItem: Seq[(Long, Long, Float)] = {
    val pairs = for {
      u <- 0 until 30
      i <- 0 until 14
      if CollectiveALS.splitmix64(u * 131L + i) % 3 == 0
    } yield (u.toLong, i.toLong)
    (pairs ++ pairs.take(5)).map { case (u, i) =>
      val r = dot(PlantedFactors.signedFactor(1L, u, rank), PlantedFactors.signedFactor(2L, i, rank))
      (u, i, math.round(r * 8.0f) / 2.0f)
    }
  }
  private lazy val itemTag: Seq[(Long, Long, Float)] = for {
    i <- 2L until 16L
    t <- 0L until 6L
    if CollectiveALS.splitmix64(i * 17L + t) % 2 == 0
  } yield (i, t, math.round(dot(PlantedFactors.signedFactor(2L, i, rank),
    PlantedFactors.signedFactor(3L, t, rank)) * 6.0f) / 2.0f)

  private def dot(a: Array[Float], b: Array[Float]): Float = a.zip(b).map { case (x, y) => x * y }.sum

  private def estimator(implicitPrefs: Boolean, nonnegative: Boolean): CollectiveALS =
    new CollectiveALS("user", "item", "tag")
      .setRank(rank).setMaxIter(4).setRegParam(0.1).setSeed(11L)
      .setImplicitPrefs(implicitPrefs).setAlpha(2.0).setNonnegative(nonnegative)

  private def fit(est: CollectiveALS): CollectiveALSModel =
    est.fit(("user", "item") -> userItem.toDF("user", "item", "rating"),
      ("item", "tag") -> itemTag.toDF("item", "tag", "rating"))

  private def factorMaps(model: CollectiveALSModel): IndexedSeq[Map[Long, Array[Float]]] =
    model.factors.map(_.as[(Long, Array[Float])].collect().toMap).toIndexedSeq

  private def geometries: Seq[(String, CollectiveALS => CollectiveALS)] = Seq(
    "1 block" -> (_.setNumBlocks(1)),
    "2 blocks" -> (_.setNumBlocks(2)),
    "(3, 2, 1) blocks" -> (_.setNumBlocks(0, 3).setNumBlocks(1, 2).setNumBlocks(2, 1)),
    // More tag blocks than tags: some blocks hold no ids at all.
    "(2, 5, 9) blocks" -> (_.setNumBlocks(0, 2).setNumBlocks(1, 5).setNumBlocks(2, 9)))

  for ((mode, implicitPrefs, nonnegative) <- Seq(
      ("explicit", false, false), ("implicit", true, false), ("nonnegative", false, true))) {
    test(s"$mode fit equals the dense local fit under every block geometry") {
      val want = LocalCmf.fit(3,
        Seq(LocalCmf.Relation(0, 1, userItem), LocalCmf.Relation(1, 2, itemTag)),
        rank, iters = 4, reg = 0.1, seed = 11L,
        implicitPrefs = implicitPrefs, alpha = 2.0, nonnegative = nonnegative)
      for ((name, geometry) <- geometries) {
        val got = factorMaps(fit(geometry(estimator(implicitPrefs, nonnegative))))
        for (e <- 0 until 3) {
          assert(got(e).keySet == want(e).keySet, s"$name: ids of entity $e")
          want(e).foreach { case (id, w) =>
            val g = got(e)(id)
            val scale = math.max(1.0, w.map(x => math.abs(x.toDouble)).max)
            val diff = g.zip(w).map { case (x, y) => math.abs(x.toDouble - y) }.max
            assert(diff <= 1e-4 * scale,
              s"$name: entity $e id $id: ${g.mkString(",")} vs ${w.mkString(",")}")
          }
        }
      }
    }
  }

  private def bits(model: CollectiveALSModel): IndexedSeq[Seq[(Long, Seq[Int])]] =
    factorMaps(model).map(_.toSeq.sortBy(_._1).map { case (id, f) =>
      id -> f.toSeq.map(java.lang.Float.floatToRawIntBits)
    })

  test("two fits with the same seed and blocks return bitwise-identical factors") {
    for (implicitPrefs <- Seq(false, true)) {
      def run() = bits(fit(estimator(implicitPrefs, nonnegative = false).setNumBlocks(3)))
      assert(run() == run(), s"implicit=$implicitPrefs")
    }
  }

  test("concurrent fits with different block counts on one session equal their solo fits") {
    val key = "spark.sql.shuffle.partitions"
    val conf = spark.conf.get(key)
    val solo = Seq(1, 3).map(n => n -> bits(fit(estimator(false, false).setNumBlocks(n)))).toMap
    val stop = new AtomicBoolean(false)
    val seen = scala.collection.concurrent.TrieMap.empty[String, Unit]
    val watcher = new Thread(() => while (!stop.get()) { seen.put(spark.conf.get(key), ()); Thread.sleep(1) })
    watcher.start()
    val results = new java.util.concurrent.ConcurrentHashMap[Int, IndexedSeq[Seq[(Long, Seq[Int])]]]()
    val fits = Seq(1, 3).map { n =>
      new Thread(() => results.put(n, bits(fit(estimator(false, false).setNumBlocks(n)))))
    }
    fits.foreach(_.start())
    fits.foreach(_.join())
    stop.set(true)
    watcher.join()
    assert(results.get(1) == solo(1))
    assert(results.get(3) == solo(3))
    assert(seen.keySet == Set(conf), s"$key read ${seen.keySet} during the fits")
  }

  private def checkpointId(df: DataFrame): Int = Tables.checkpoints(df).head.id

  test("a fit leaves only the model's factor tables persisted") {
    val sc = spark.sparkContext
    for (interval <- Seq(1, 2)) {
      val before = sc.getPersistentRDDs.keySet
      val model = fit(estimator(implicitPrefs = true, nonnegative = false)
        .setNumBlocks(2).setMaxIter(3).setCheckpointInterval(interval))
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added == model.factors.map(checkpointId).toSet, s"checkpoint interval $interval")
      model.release()
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty, s"checkpoint interval $interval")
    }
  }

  test("a fit that throws after checkpointing factor tables leaves nothing persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // One iteration solves user, item, then tag, checkpointing each table.
    // A NaN item–tag rating gives its item a NaN factor; that factor fills
    // its tags' Grams with NaN, so the tag solve throws after the user and
    // item tables exist.
    val (i, t, _) = itemTag.head
    val poisoned = (itemTag.tail :+ ((i, t, Float.NaN))).toDF("item", "tag", "rating")
    val e = intercept[Exception] {
      estimator(implicitPrefs = false, nonnegative = false).setNumBlocks(2).setMaxIter(1)
        .fit(("user", "item") -> userItem.toDF("user", "item", "rating"), ("item", "tag") -> poisoned)
    }
    assert(e.getMessage.contains("not positive definite"), e.getMessage)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
