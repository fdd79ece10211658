package graft.cmf

import graft.SparkSpec
import org.apache.spark.ShuffleDependency
import org.apache.spark.graftshim.JobCount
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `predict` routes the input to the factor blocks; [[JoinPredict]] joins
  * the factor tables onto it. Both must give the same rows, with bit-equal
  * float predictions, and the same schema, for every kind of model and
  * input. */
class PredictEquivalenceSpec extends SparkSpec {
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
    val dir = java.nio.file.Files.createTempDirectory("graft_predict").toString
    model.save(dir)
    CollectiveALSModel.load(spark, dir)
  }

  /** Every (left, right) pair over the fitted ids plus a few unseen ones,
    * and rows with a null id on either side or both. */
  private def pairs(l: String, r: String, nl: Long, nr: Long): DataFrame = {
    val grid = for (a <- 0L until nl + 4; b <- 0L until nr + 3) yield (Option(a), Option(b))
    (grid ++ Seq((None, Some(1L)), (Some(2L), None), (None, None))).toDF(l, r)
  }

  private lazy val userItem = pairs("user", "item", 40, 20)
  private lazy val itemTag = pairs("item", "tag", 20, 8)

  /** A row as comparable values, floats and doubles by their bits. */
  private def key(r: Row): List[Any] = r.toSeq.toList.map {
    case f: Float  => ("float", java.lang.Float.floatToIntBits(f))
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case s: scala.collection.Seq[_] => s.toList
    case v => v
  }

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"\n${got.schema.treeString}\nvs\n${want.schema.treeString}")
    def counts(df: DataFrame) = df.collect().map(key).groupBy(identity).view.mapValues(_.length).toSet
    val (g, w) = (counts(got), counts(want))
    val (onlyGot, onlyWant) = (g -- w, w -- g)
    if (onlyGot.nonEmpty || onlyWant.nonEmpty)
      fail(s"${onlyGot.size} (row, count) pairs only in predict, e.g. ${onlyGot.take(2)}; " +
        s"${onlyWant.size} only in the join, e.g. ${onlyWant.take(2)}")
  }

  /** Runs `body` twice: with the test models' small factor tables read
    * whole by every input task, then routed to block by block (broadcast
    * threshold -1). */
  private def bothPaths(body: => Unit): Unit = {
    body
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def scored(df: DataFrame, predictionCol: String = "prediction"): Long =
    df.filter(!isnan(col(predictionCol))).count()

  test("cold-start ids on either side and null ids score as the join does") {
    bothPaths {
      val got = model.predict(userItem)
      assertSame(got, JoinPredict.predict(model, userItem))
      // 1/3 of the fitted pairs are rated, and every fitted id is scored.
      assert(scored(got) == 40 * 20)
      assert(got.count() == 44 * 23 + 3)
    }
  }

  test("Int, Long and numeric-String id columns with extra input columns") {
    bothPaths {
      val base = userItem
        .withColumn("note", concat(lit("n"), col("user").cast("string")))
        .withColumn("w", col("item") * 0.5)
        .withColumn("arr", array(col("user"), col("item")))
      for (t <- Seq("int", "long", "string")) {
        val in = base.withColumn("user", col("user").cast(t)).withColumn("item", col("item").cast(t))
        assertSame(model.predict(in), JoinPredict.predict(model, in))
      }
      // Ids on the right of the input's columns, in another order.
      val reordered = base.select("arr", "item", "w", "user", "note")
      assertSame(model.predict(reordered), JoinPredict.predict(model, reordered))
    }
  }

  test("a non-numeric string id fails under ANSI and scores NaN without it") {
    bothPaths {
      val bad = Seq(("1", "x"), ("2", "3")).toDF("user", "item")
      val e = intercept[Exception](model.predict(bad).collect())
      assert(e.getMessage.contains("CAST_INVALID_INPUT"), e.getMessage)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try assertSame(model.predict(bad), JoinPredict.predict(model, bad))
      finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("an existing prediction column is replaced and duplicate rows are kept") {
    bothPaths {
      val withPrediction = userItem.withColumn("prediction", lit(1.5)).withColumn("tail", lit(7))
      assertSame(model.predict(withPrediction), JoinPredict.predict(model, withPrediction))
      // Resolution is case-insensitive by default, as in `withColumn`.
      val upper = userItem.withColumn("PREDICTION", lit("old"))
      assertSame(model.predict(upper), JoinPredict.predict(model, upper))
      val twice = userItem.union(userItem).union(userItem.limit(5))
      assertSame(model.predict(twice), JoinPredict.predict(model, twice))
    }
  }

  test("an empty input gives an empty frame of the same schema") {
    bothPaths {
      val empty = userItem.filter(lit(false))
      assertSame(model.predict(empty), JoinPredict.predict(model, empty))
      val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], userItem.schema)
      assertSame(model.predict(noPartitions), JoinPredict.predict(model, noPartitions))
    }
  }

  test("a 3-entity model scores both relations as the join does") {
    bothPaths {
      assertSame(model.predict(userItem, "user", "item"), JoinPredict.predict(model, userItem, "user", "item"))
      val got = model.predict(itemTag, "item", "tag")
      assertSame(got, JoinPredict.predict(model, itemTag, "item", "tag"))
      assert(scored(got) == 20 * 8)
    }
  }

  test("a saved and loaded model scores as the join does and as the fitted model") {
    bothPaths {
      for ((in, l, r) <- Seq((userItem, "user", "item"), (itemTag, "item", "tag"))) {
        val got = loaded.predict(in, l, r)
        assertSame(got, JoinPredict.predict(loaded, in, l, r))
        assertSame(got, model.predict(in, l, r))
      }
    }
  }

  test("a model over aggregated frames scores as the join does") {
    bothPaths {
      def aggregated(e: String) = model.factorsFor(e).groupBy("id").agg(first("features").as("features"))
      val built = new CollectiveALSModel(rank, Seq("user", "item", "tag").map(aggregated), Seq("user", "item", "tag"))
      assertSame(built.predict(userItem), JoinPredict.predict(built, userItem))
      assertSame(built.predict(itemTag, "item", "tag"), JoinPredict.predict(built, itemTag, "item", "tag"))
      assertSame(built.predict(userItem), model.predict(userItem))
    }
  }

  test("setPredictionCol and the entity-column mutators rename what predict reads and writes") {
    bothPaths {
      val m = new CollectiveALS().setRank(rank).setMaxIter(1).setSeed(5L).setNumBlocks(2).fit(ratings)
      m.setEntityCols(Seq("u", "i")).setPredictionCol("score")
      val renamed = userItem.withColumnRenamed("user", "u").withColumnRenamed("item", "i")
      assertSame(m.predict(renamed), JoinPredict.predict(m, renamed))
      assert(scored(m.predict(renamed), "score") == 40 * 20)
      m.setUserCol("user").setEntityCol(1, "item").setPredictionCol("p")
      assertSame(m.predict(userItem), JoinPredict.predict(m, userItem))
      m.setItemCol("item2")
      val item2 = userItem.withColumnRenamed("item", "item2")
      assertSame(m.predict(item2), JoinPredict.predict(m, item2))
    }
  }

  /** The distinct shuffles in `df`'s lineage, by their partition counts. */
  private def shuffles(df: DataFrame): Seq[Int] = {
    def walk(r: RDD[_]): Seq[ShuffleDependency[_, _, _]] = r.dependencies.flatMap {
      case d: ShuffleDependency[_, _, _] => d +: walk(d.rdd)
      case d => walk(d.rdd)
    }
    walk(df.queryExecution.toRdd).distinctBy(_.shuffleId).map(_.partitioner.numPartitions)
  }

  test("predict builds without a job, runs in one, and shuffles a fitted model's factors never") {
    val sc = spark.sparkContext
    // Routed, the input moves twice; only a model that is not the fit's
    // blocks moves its factor rows. Read whole, nothing moves.
    for ((m, name, routedShuffles) <- Seq((model, "fitted", 2), (loaded, "loaded", 4)); routed <- Seq(false, true)) {
      if (routed) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val (df, built) = JobCount(sc)(m.predict(userItem))
        val (rows, ran) = JobCount(sc)(df.collect())
        assert(built == 0, s"$name: $built jobs while building")
        assert(ran == 1, s"$name: $ran jobs to collect")
        assert(rows.length == 44 * 23 + 3)
        assert(shuffles(m.predict(userItem)).length == (if (routed) routedShuffles else 0), name)
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("a routed input keeps at least spark.sql.shuffle.partitions tasks; a table read whole routes nothing") {
    val one = new CollectiveALS().setRank(rank).setMaxIter(1).setSeed(5L).setNumBlocks(1).fit(ratings)
    val inputParts = userItem.queryExecution.toRdd.getNumPartitions
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try {
      // Small tables, 3 blocks each: read whole; the input stays.
      val small = model.predict(userItem)
      assert(shuffles(small).isEmpty)
      assert(small.queryExecution.toRdd.getNumPartitions == inputParts)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // Routed to 3 blocks: each shuffle into 2 partitions of each block.
      val routed = model.predict(userItem)
      assert(shuffles(routed) == Seq(6, 6))
      val sizes = routed.queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(sizes.length == 6 && sizes.forall(_ > 0), sizes.mkString(","))
      assertSame(routed, JoinPredict.predict(model, userItem))
      // Past 200 partitions Spark writes the shuffle with its serialized
      // (not bypass) writer.
      spark.conf.set("spark.sql.shuffle.partitions", "250")
      val many = model.predict(userItem)
      assert(shuffles(many) == Seq(252, 252))
      assertSame(many, JoinPredict.predict(model, userItem))
      // 1 block, or a one-partition built table: read in place whatever
      // the threshold.
      val built = new CollectiveALSModel(rank, one.factors.map(_.coalesce(1)), Seq("user", "item"))
      for (m <- Seq(one, built)) {
        val df = m.predict(userItem)
        assert(shuffles(df).isEmpty)
        assert(df.queryExecution.toRdd.getNumPartitions == inputParts)
        assertSame(df, JoinPredict.predict(m, userItem))
        val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], userItem.schema)
        val empty = m.predict(noPartitions)
        assert(empty.schema == JoinPredict.predict(m, noPartitions).schema && empty.collect().isEmpty)
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      one.release()
    }
  }
}
