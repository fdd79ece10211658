package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `query_mix`: a fixed list of `SparkEntry.queries` entries, in a fixed
  * order, each built and written to a `noop` sink on tables generated from
  * the seed at about 1/1000 of the TPC-H scale factor 1 sizes.
  *
  * Every pass runs on a fresh session, so every per-session memo starts
  * cold. At this scale an entry is almost pure fixed cost: DataFrame build
  * (with any eager jobs), Catalyst, codegen and job scheduling.
  *
  * Checking happens in the untimed warm-up pass: each entry's result is
  * written to parquet under `<dir>/results`, next to the oracle SQL in
  * `<dir>/oracle_sql.json`, and `run.py` compares the two with DuckDB.
  */
final class QueryMix(ctx: Ctx, dir: String) extends Workload {
  import QueryMix._

  // A fixed order, not a seeded one: entries read the same tables through
  // per-session memos, so with a seeded order an entry's latency would
  // depend on which memos the entries before it happened to fill.
  private val order: Seq[String] = Entries
  private var setupSession: SparkSession = _
  private var checks: Seq[Check] = Nil

  def setup(s: SparkSession): Unit = {
    Tables.write(s, dir, ctx.seed)
    setupSession = s
  }

  /** One untimed pass over the entries on the set-up session, writing each
    * result to parquet for the oracle compare, then `WarmupPasses` untimed
    * passes as timed. After the first alone, the timed passes still got
    * faster one after the other. */
  def warmup(): Unit = {
    val oracles = SparkEntry.oracleSql
    checks = order.map { name =>
      val ok =
        try {
          SparkEntry.queries(name)(setupSession, dir).coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/results/$name")
          true
        } catch { case e: Exception => System.err.println(s"$name: $e"); false }
      Check(s"queries.$name.runs", ok && oracles.contains(name),
        if (oracles.contains(name)) "result written" else "no oracle SQL")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      Json.obj(order.map(n => n -> oracles(n))))
    (1 to WarmupPasses).foreach(_ => pass())
  }

  override def minPasses: Int = 4

  def pass(): Pass = {
    val t0 = System.nanoTime()
    val s = ctx.newSession()
    val requests = order.map { name =>
      val fn = SparkEntry.queries(name)
      val t1 = System.nanoTime()
      ctx.span("queries.entry") {
        val df = ctx.span("queries.build") { fn(s, dir) }
        ctx.noop(df)
      }
      val ms = ctx.ms(t1)
      System.err.println(f"entry $name%s $ms%.0f ms")
      ms
    }
    Pass(ctx.ms(t0), requests)
  }

  def check(): (Seq[Check], Map[String, Double]) = (checks, Map.empty)
}

object QueryMix {
  /** Five entries with an oracle, none of which fits a model (the fit is
    * `cmf_train`'s): `train_negatives` from the CMF pack, the first two
    * taken by every 115th non-stream entry with an oracle in name order,
    * and the TPC-H-like `q1_agg` and `q6_filter`. Taken once and fixed, so
    * that every seed runs the same calls. */
  val Entries: Seq[String] = Seq(
    "train_negatives", "corpus_chi2", "events_page_hinkley", "q1_agg", "q6_filter")

  /** Untimed passes made as the timed ones are, after the first warm-up pass. */
  val WarmupPasses = 2

  /** The tables the entries read; the others are generated but not written. */
  val Written: Set[String] =
    Set("region", "nation", "customer", "part", "orders", "lineitem", "events", "documents")

  /** The TPC-H-like test tables, generated with their schemas and value
    * ranges. Timestamps are written without a time zone, as those tables
    * store them. */
  object Tables {
    def write(s: SparkSession, dir: String, seed: Long): Unit = {
      val rnd = new SplittableRandom(seed)
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
      def money(lo: Double, hi: Double) = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
      def day(from: LocalDateTime, days: Int) = from.plusDays(rnd.nextInt(days).toLong)
      val t1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
      def save(name: String, fields: Seq[(String, DataType)], rows: => Seq[Row]): Unit =
        if (Written(name)) s.createDataFrame(java.util.Arrays.asList(rows: _*),
          StructType(fields.map { case (n, t) => StructField(n, t) }))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

      val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      save("region", Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
        regions.indices.map(i => Row(i, regions(i))))
      save("nation", Seq("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
      val segments = Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
      save("customer", Seq("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
          money(-999.99, 9999.99), pick(segments))))
      save("supplier", Seq("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType),
        (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), money(-999.99, 9999.99))))
      val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
      val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
      val types = Seq("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO")
      save("part", Seq("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
        (0 until Parts).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
          s"Brand#${1 + rnd.nextInt(25)}", pick(types), 1 + rnd.nextInt(50),
          math.round((900.0 + i * 0.1) * 100) / 100.0)))
      val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      save("orders", Seq("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
        (0 until Orders).map(i => Row(i.toLong, rnd.nextInt(Customers).toLong, pick(Seq("F", "O", "P")),
          money(1000, 500000), day(t1995, 2404), pick(priorities))))
      save("lineitem", Seq("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType),
        (0 until Lineitems).map(_ => Row(rnd.nextInt(Orders).toLong, rnd.nextInt(Parts).toLong,
          rnd.nextInt(Suppliers).toLong, 1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble,
          money(900, 105000), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          pick(Seq("A", "N", "R")), pick(Seq("O", "F")), day(t1995.plusDays(1), 2495))))
      val eventTypes = Seq("signup", "click", "error", "purchase", "view")
      var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
      save("events", Seq("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
        (0 until Events).map { i =>
          ts = ts.plusNanos((1 + rnd.nextInt(5180)) * 1000000000L / 2 + rnd.nextInt(1000000) * 1000L)
          Row(i.toLong, ts, rnd.nextInt(15).toLong, pick(eventTypes), money(0, 330),
            s"""{"k": ${rnd.nextInt(100)}}""")
        })
      val words = ("the stream query row fast small spark group customer line sort hash batch dup " +
        "data filter value big key order table scan merge part window join slow agg column a vector").split(" ").toSeq
      val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
      val texts = mutable.ArrayBuffer.empty[String]
      (0 until Documents).foreach { i =>
        texts += (if (i > 0 && rnd.nextDouble() < 0.05) texts(rnd.nextInt(i))
          else Array.fill(8 + rnd.nextInt(90))(pick(words)).mkString(" "))
      }
      save("documents", Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType),
        texts.indices.map(i => Row(i.toLong, texts(i), pick(langs), s"src${i % 20}", texts(i).length.toLong)))
      val centers = Array.fill(10)(Array.fill(64)(rnd.nextGaussian()))
      save("embeddings", Seq("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
        (0 until Embeddings).map { i =>
          val label = rnd.nextInt(10)
          val v = centers(label).map(_ + 0.8 * rnd.nextGaussian())
          val n = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
        })
    }
  }

  val Customers = 150
  val Suppliers = 10
  val Parts = 200
  val Orders = 1500
  val Lineitems = 6000
  val Events = 1000
  val Documents = 500
  val Embeddings = 500
}
