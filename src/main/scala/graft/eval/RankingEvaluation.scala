package graft.eval

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StructField, StructType}

/** Ranking evaluation: Precision / Recall / F1 / NDCG / MAP @ k
  * (SURVEY §2 #16), the metric family the reference's tests print
  * (`/root/reference/src/test/scala/com/github/jongwook/cmf/IHRALS.scala:49-55`).
  *
  * One lazy per-user pass: prediction and truth rows go through a single
  * shuffle on the user key, combined map side into each user's bounded
  * top-maxK list and distinct relevant set; every metric at every k comes
  * from one loop over at most maxK ranked items; per-partition sums then
  * meet in one single-partition reduce. Building the frame plans nothing
  * and runs no job; materializing it is one job (more only if the inputs
  * themselves hold shuffles). At 100 TB the cost is one pass over the
  * predictions, a shuffle of at most maxK rows per (map partition, user)
  * plus the truth rows, and state of maxK rows and |rel| items per user.
  *
  * Definitions (binary relevance; users = distinct users in `truth`):
  *   P@k    = |top-k ∩ rel| / k
  *   R@k    = |top-k ∩ rel| / |rel|
  *   F1@k   = harmonic mean of P@k, R@k (0 when no hits)
  *   NDCG@k = Σ_{i≤k, hit} 1/log2(i+1)  /  Σ_{i≤min(|rel|,k)} 1/log2(i+1)
  *   MAP@k  = mean over users of Σ_{i≤k, hit} (hits≤i / i) / min(|rel|, k)
  * Each user's predictions rank as `row_number()` over `score desc, item`
  * would: NaN scores first, null scores last, ties by ascending item id. A
  * null item takes its rank but never hits; predictions of null or
  * truth-less users count nowhere.
  */
object RankingEvaluation {

  /** @param predictions (userCol, itemCol, scoreCol) — ranked per user by
    *                    score desc, item asc
    * @param truth       (userCol, itemCol) — the relevant items per user
    * @param ks          cutoffs; one output row per distinct k, ascending:
    *                    (k, precision_at, recall_at, f1_at, ndcg_at, map_at)
    */
  def evaluate(
      predictions: DataFrame,
      truth: DataFrame,
      userCol: String,
      itemCol: String,
      scoreCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), "ks must be positive")
    val spark = predictions.sparkSession
    val cuts = ks.distinct.sorted.toArray
    val maxK = cuts.last

    // (user, item, score, relevant) from both sides: the union widens the
    // user and item types of the two inputs to one common type.
    val scored = predictions.filter(col(userCol).isNotNull)
      .select(col(userCol), col(itemCol), col(scoreCol), lit(false))
    val rows = scored.union(truth.select(col(userCol), col(itemCol),
      lit(null).cast(scored.schema.fields(2).dataType), lit(true)))
    val Array(userT, itemT, scoreT) = rows.schema.fields.take(3).map(_.dataType)
    def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)
    // Ranked rows are (item, score).
    val order = new InterpretedOrdering(Seq(
      SortOrder(ref(1, scoreT), Descending), SortOrder(ref(0, itemT), Ascending)))

    val perUser = graft.Tables.deferred(spark.sparkContext)(rows.queryExecution.toRdd)
      .mapPartitions { it =>
        val user = UnsafeProjection.create(Seq(ref(0, userT)))
        val item = UnsafeProjection.create(Seq(ref(1, itemT)))
        val ranked = UnsafeProjection.create(Seq(ref(1, itemT), ref(2, scoreT)))
        it.map { r =>
          val relevant = r.getBoolean(3)
          (user(r).copy(), (relevant, if (relevant) item(r).copy() else ranked(r).copy()))
        }
      }
      .combineByKey[UserLists](
        v => new UserLists(maxK).add(v, order),
        (acc, v) => acc.add(v, order),
        (a, b) => a.merge(b, order),
        new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt))

    // discount(i) = 1/log2(i+1) for ranks i ≥ 1, with Spark's log2;
    // idcg(m) = Σ_{i≤m} discount(i).
    val discount = Array.tabulate(maxK + 1)(i => if (i == 0) 0.0 else 1.0 / log2(i + 1.0))
    val idcg = discount.indices.map(m => (1 to m).map(discount).sum).toArray
    val sums = perUser.mapPartitions { it =>
      val item = UnsafeProjection.create(Seq(ref(0, itemT)))
      // Metric sums per cut, then the user count.
      val acc = new Array[Double](Metrics.length * cuts.length + 1)
      it.foreach { case (_, lists) =>
        if (lists.relevant.nonEmpty) {
          val nrel = lists.relevant.size
          var hits = 0
          var dcg = 0.0
          var ap = 0.0
          var seen = 0
          cuts.indices.foreach { c =>
            val k = cuts(c)
            while (seen < math.min(k, lists.ranked.length)) {
              val row = lists.ranked(seen)
              seen += 1
              if (!row.isNullAt(0) && lists.relevant.contains(item(row))) {
                hits += 1
                dcg += discount(seen)
                ap += hits.toDouble / seen
              }
            }
            val m = math.min(nrel, k)
            val p = hits.toDouble / k
            val r = hits.toDouble / nrel
            val at = Metrics.length * c
            acc(at) += p
            acc(at + 1) += r
            acc(at + 2) += (if (hits == 0) 0.0 else 2.0 * p * r / (p + r))
            acc(at + 3) += dcg / idcg(m)
            acc(at + 4) += ap / m
          }
          acc(acc.length - 1) += 1
        }
      }
      if (acc.last == 0) Iterator.empty else Iterator.single((0, acc))
    }
    val out = sums
      .reduceByKey((a, b) => Array.tabulate(a.length)(i => a(i) + b(i)), 1)
      .flatMap { case (_, acc) =>
        cuts.indices.map { c =>
          Row.fromSeq(cuts(c) +: Metrics.indices.map(j => acc(Metrics.length * c + j) / acc.last))
        }
      }
    spark.createDataFrame(out, StructType(StructField("k", IntegerType, nullable = false) +:
      Metrics.map(StructField(_, DoubleType))))
  }

  private val Metrics = Seq("precision_at", "recall_at", "f1_at", "ndcg_at", "map_at")

  /** Spark's `log2`. */
  private def log2(x: Double): Double = StrictMath.log(x) / StrictMath.log(2)

  /** One user's (item, score) rows, best first and at most `maxK` of them,
    * and distinct relevant items; built and merged map side. */
  private final class UserLists(maxK: Int) extends Serializable {
    val ranked = mutable.ArrayBuffer.empty[InternalRow]
    val relevant = mutable.HashSet.empty[UnsafeRow]

    def add(v: (Boolean, UnsafeRow), order: Ordering[InternalRow]): this.type = {
      if (v._1) relevant += v._2 else rank(v._2, order)
      this
    }

    def merge(other: UserLists, order: Ordering[InternalRow]): this.type = {
      other.ranked.foreach(rank(_, order))
      relevant ++= other.relevant
      this
    }

    /** Inserts after every row that does not rank below `row`. */
    private def rank(row: InternalRow, order: Ordering[InternalRow]): Unit = {
      var lo = 0
      var hi = ranked.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (order.compare(ranked(mid), row) <= 0) lo = mid + 1 else hi = mid
      }
      if (lo < maxK) {
        ranked.insert(lo, row)
        if (ranked.length > maxK) ranked.remove(maxK)
      }
    }
  }
}
