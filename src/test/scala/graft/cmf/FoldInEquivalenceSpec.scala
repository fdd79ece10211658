package graft.cmf

import graft.SparkSpec
import org.apache.spark.ShuffleDependency
import org.apache.spark.graftshim.JobCount
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `foldIn` runs one half-step of the fit against the frozen source
  * factors; [[AggregatorFoldIn]] joins the ratings onto the source factor
  * table and aggregates one normal equation per id. Both must give the
  * same ids, the same schema, and factors within 1e-4 of each other
  * (relative to the largest coefficient of the factor), for every mode,
  * model and input. */
class FoldInEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val rank = 8

  private def planted(seed: Long, id: Long): Array[Float] = PlantedFactors.signedFactor(seed, id, rank)
  private def dot(a: Array[Float], b: Array[Float]): Float = a.zip(b).map { case (x, y) => x * y }.sum

  private lazy val ratings: DataFrame = (for {
    u <- 0L until 40L
    i <- 0L until 20L
    if CollectiveALS.splitmix64(u * 131L + i) % 3 == 0
  } yield (u, i, dot(planted(1L, u), planted(2L, i)) * 4.0f)).toDF("user", "item", "rating")

  private lazy val itemTags: DataFrame = (for {
    i <- 0L until 20L
    t <- 0L until 8L
    if CollectiveALS.splitmix64(i * 17L + t) % 2 == 0
  } yield (i, t, dot(planted(2L, i), planted(3L, t)) * 4.0f)).toDF("item", "tag", "rating")

  /** A 3-entity fit over 3 blocks per entity. */
  private lazy val model: CollectiveALSModel = new CollectiveALS("user", "item", "tag")
    .setRank(rank).setMaxIter(2).setRegParam(0.1).setSeed(3L).setNumBlocks(3)
    .fit(("user", "item") -> ratings, ("item", "tag") -> itemTags)

  private lazy val loaded: CollectiveALSModel = {
    val dir = java.nio.file.Files.createTempDirectory("graft_foldin").toString
    model.save(dir)
    CollectiveALSModel.load(spark, dir)
  }

  /** New ids 1000–1011 of `entity` rating about 8 of items 0–23 each
    * (items 20–23 are unseen), some of them twice, with ratings of both
    * signs; id 1050 rates unseen items only, and one rating has a null
    * item. */
  private def batch(entity: String, seed: Long): DataFrame = {
    val rows = for {
      n <- 1000L until 1012L
      i <- 0L until 24L
      if CollectiveALS.splitmix64(n * seed + i) % 3 == 0
    } yield (n, Option(i), dot(planted(seed, n), planted(2L, i % 20)) * 4.0f)
    (rows ++ rows.take(6) ++ Seq((1050L, Option(30L), 1.0f), (1050L, Option(31L), 2.0f), (1001L, None, 2.0f)))
      .toDF(entity, "item", "rating")
  }

  private lazy val newUsers = batch("user", 5L)
  private lazy val newTags = batch("tag", 7L)

  /** (name, implicitPrefs, nonnegative); implicit uses α = 40. */
  private val modes = Seq(("explicit", false, false), ("implicit", true, false), ("nnls", false, true))

  private def folded(m: CollectiveALSModel, in: DataFrame, entity: String, mode: (String, Boolean, Boolean),
      ratingCol: String = "rating"): DataFrame =
    m.foldIn(in, entity, "item", ratingCol, regParam = 0.1,
      implicitPrefs = mode._2, alpha = 40.0, nonnegative = mode._3)

  private def reference(m: CollectiveALSModel, in: DataFrame, entity: String, mode: (String, Boolean, Boolean),
      ratingCol: String = "rating"): DataFrame =
    AggregatorFoldIn.foldIn(m, in, entity, "item", ratingCol, regParam = 0.1,
      implicitPrefs = mode._2, alpha = 40.0, nonnegative = mode._3)

  private def vectors(df: DataFrame): Map[Long, Array[Float]] = {
    val rows = df.as[(Long, Array[Float])].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "an id twice")
    rows.toMap
  }

  private def assertClose(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what:\n${got.schema.treeString}\nvs\n${want.schema.treeString}")
    val (g, w) = (vectors(got), vectors(want))
    assert(g.keySet == w.keySet, s"$what: ids ${g.keySet} vs ${w.keySet}")
    for ((id, b) <- w) {
      val a = g(id)
      assert(a.length == b.length, s"$what: id $id has ${a.length} coefficients")
      val scale = math.max(b.map(x => math.abs(x)).max, 1e-6f)
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-4 * scale, s"$what: id $id: $x vs $y (${a.mkString(",")} vs ${b.mkString(",")})")
      }
    }
  }

  /** Runs `body` with the small test tables read whole, then re-blocked
    * (broadcast threshold -1). */
  private def bothPaths(body: String => Unit): Unit = {
    body("read whole")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body("re-blocked")
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("explicit, implicit and NNLS fold-ins match the aggregator pipeline") {
    bothPaths { path =>
      for (mode <- modes) {
        // Without id 1050 every new id has a row either way; the ratings of
        // unseen items must still not count toward λ·n.
        val rated = newUsers.filter(col("user") =!= 1050L)
        assertClose(folded(model, rated, "user", mode), reference(model, rated, "user", mode), s"$path ${mode._1}")
        val got = folded(model, newUsers, "user", mode)
        assertClose(got, reference(model, newUsers, "user", mode), s"$path ${mode._1}")
        // Users 1000-1011 rate known items; 1050 rates none and has no row.
        assert(vectors(got).keySet == (1000L until 1012L).toSet)
      }
      val nn = vectors(folded(model, newUsers, "user", modes(2)))
      assert(nn.values.forall(_.forall(_ >= 0.0f)))
    }
  }

  test("ratingCol = \"\" rates every row 1.0, and Int and String id columns fold as Long ones") {
    bothPaths { path =>
      for (mode <- modes) {
        assertClose(folded(model, newUsers, "user", mode, ""), reference(model, newUsers, "user", mode, ""),
          s"$path ${mode._1} unrated")
        for (t <- Seq("int", "string")) {
          val in = newUsers.withColumn("user", col("user").cast(t)).withColumn("item", col("item").cast(t))
          assertClose(folded(model, in, "user", mode), reference(model, in, "user", mode), s"$path ${mode._1} $t")
          val asLong = vectors(folded(model, newUsers, "user", mode))
          vectors(folded(model, in, "user", mode)).foreach { case (id, f) =>
            assert(f.sameElements(asLong(id)), s"$path ${mode._1} $t: id $id")
          }
        }
      }
    }
  }

  test("a 3-entity model folds new ids of either neighbour against the shared entity") {
    bothPaths { path =>
      for (mode <- modes) {
        val got = folded(model, newTags, "tag", mode)
        assertClose(got, reference(model, newTags, "tag", mode), s"$path ${mode._1} tags")
        assert(vectors(got).keySet == (1000L until 1012L).toSet)
      }
    }
  }

  test("a saved and loaded model folds as the aggregator pipeline and as the fitted model") {
    bothPaths { path =>
      for (mode <- modes) {
        val got = folded(loaded, newUsers, "user", mode)
        assertClose(got, reference(loaded, newUsers, "user", mode), s"$path ${mode._1} loaded")
        if (!mode._2) {
          val fitted = vectors(folded(model, newUsers, "user", mode))
          vectors(got).foreach { case (id, f) => assert(f.sameElements(fitted(id)), s"$path ${mode._1} $id") }
        }
      }
    }
  }

  test("an empty batch, or one with no known source id, gives no rows") {
    bothPaths { path =>
      for (mode <- modes; in <- Seq(newUsers.filter(lit(false)), newUsers.filter(col("item") >= 20 || col("item").isNull))) {
        val got = folded(model, in, "user", mode)
        assert(got.collect().isEmpty, s"$path ${mode._1}")
        assert(got.schema == reference(model, in, "user", mode).schema)
      }
    }
  }

  test("a null entity id fails where its source id is known and is dropped where it is not") {
    bothPaths { path =>
      val known = Seq((Option(1000L), 1L, 1.0f), (None, 2L, 2.0f)).toDF("user", "item", "rating")
      for (mode <- modes) {
        val e = intercept[Exception](folded(model, known, "user", mode).collect())
        assert(e.getMessage.contains("user ids must be numeric"), s"$path: ${e.getMessage}")
        intercept[Exception](reference(model, known, "user", mode).collect())
        val unknown = Seq((Option(1000L), 1L, 1.0f), (None, 99L, 2.0f)).toDF("user", "item", "rating")
        assertClose(folded(model, unknown, "user", mode), reference(model, unknown, "user", mode), s"$path ${mode._1}")
      }
      // A non-numeric id fails in the cast under ANSI, and casts to null
      // (so fails as one) without it.
      val text = Seq(("1000", "1"), ("x", "2")).toDF("user", "item")
      val ansi = intercept[Exception](model.foldIn(text, "user", "item", "").collect())
      assert(ansi.getMessage.contains("CAST_INVALID_INPUT"), ansi.getMessage)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try {
        val e = intercept[Exception](model.foldIn(text, "user", "item", "").collect())
        assert(e.getMessage.contains("user ids must be numeric"), e.getMessage)
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("building a fold-in fires no job; collecting it fires one, or two with implicit preferences") {
    val sc = spark.sparkContext
    val counts = for (m <- Seq(model, loaded); path <- Seq("read whole", "re-blocked"); mode <- modes) yield {
      if (path == "re-blocked") spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val (df, built) = JobCount(sc)(folded(m, newUsers, "user", mode))
        val (rows, ran) = JobCount(sc)(df.collect())
        assert(rows.length == 12)
        (s"$path ${mode._1}", mode._2, built, ran)
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    for ((what, _, built, _) <- counts) assert(built == 0, s"$what: $built jobs while building")
    for ((what, implicitPrefs, _, ran) <- counts)
      assert(ran <= (if (implicitPrefs) 2 else 1), s"$what: $ran jobs to collect")
  }

  /** The distinct shuffles in `df`'s lineage, by their partition counts. */
  private def shuffles(df: DataFrame): Seq[Int] = {
    def walk(r: RDD[_]): Seq[ShuffleDependency[_, _, _]] = r.dependencies.flatMap {
      case d: ShuffleDependency[_, _, _] => d +: walk(d.rdd)
      case d => walk(d.rdd)
    }
    walk(df.queryExecution.toRdd).distinctBy(_.shuffleId).map(_.partitioner.numPartitions).sorted
  }

  test("explicit and NNLS fold-ins are bitwise equal whatever the partition counts, and a small table does not cap them") {
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (mode <- Seq(modes(0), modes(2))) {
        val runs = for (parts <- Seq("2", "5", "13"); path <- Seq("read whole", "re-blocked")) yield {
          spark.conf.set("spark.sql.shuffle.partitions", parts)
          if (path == "re-blocked") spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          try vectors(folded(model, newUsers, "user", mode)) -> s"$parts $path"
          finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
        val (first, _) = runs.head
        for ((v, what) <- runs) {
          assert(v.keySet == first.keySet, what)
          v.foreach { case (id, f) => assert(f.sameElements(first(id)), s"${mode._1} $what: id $id") }
        }
      }
      // Read whole, the 3-block tables are one block, yet the source side
      // keeps spark.sql.shuffle.partitions blocks: the rating blocks are
      // 5 new-id blocks plus 5 source blocks, and the factors go to the 5
      // new-id blocks. Re-blocked, the ratings are first routed to the 3
      // factor blocks (2 partitions each) and the source side has 3·2.
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      val whole = folded(model, newUsers, "user", modes(0))
      assert(shuffles(whole) == Seq(5, 10))
      assert(whole.queryExecution.toRdd.getNumPartitions == 5)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(shuffles(folded(model, newUsers, "user", modes(0))) == Seq(5, 6, 11))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
