package graft

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{Dependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.apache.spark.storage.StorageLevel

/** Accessors for the driver-generated parquet tables in a scale-factor dir.
  * Plain `spark.read.parquet` so Catalyst owns pushdown/pruning decisions.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` has shipped under two parquet encodings — TIMESTAMP(NANOS)
    * (surfacing as Long under spark.sql.legacy.parquet.nanosAsLong) and
    * TIMESTAMP_MICROS with isAdjustedToUTC=false (surfacing as
    * TIMESTAMP_NTZ) — normalize both to a microsecond TimestampType column
    * here so downstream code sees one type. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      // `ts div 1000` (integral division) — a double-precision `/ 1000` would
      // lose sub-µs bits for epoch-nano magnitudes (~1.7e18 > 2^53) and drift
      // from the oracle's integer epoch_us.
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // The session timezone is pinned UTC (GraftSession), so the cast keeps
      // the stored epoch micros bit-exact — DuckDB oracles read the same
      // parquet as naive micros and are unaffected.
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Spread a CPU-dense narrow stage cluster-wide ONLY when its input
    * arrives under-partitioned (the sf dirs ship every table as one
    * parquet row group, so every scan is 1 partition and any fused
    * CPU-heavy narrow work — shingling, per-position hashing, payload
    * encode/decode, tokenize+explode — runs on one core until the first
    * exchange). At 100 TB the same input arrives as thousands of splits:
    * an unconditional `repartition(defaultParallelism)` would then force
    * a full round-robin shuffle of the corpus AND CAP the stage width at
    * the core count — it can REDUCE parallelism. This gate makes the
    * fan-out a plan-level no-op whenever the scan already fans out.
    *
    * Contract: call on scan-rooted narrow chains only (scan + filters /
    * projections / unions). `df.rdd.getNumPartitions` runs no job for
    * such plans — there is no exchange for AQE to materialize — it just
    * reads the scan's split count from the planned RDD. */
  def fanOut(df: DataFrame): DataFrame = fanOut(df, df)

  /** Same gate decided on `probe` instead of `df` itself: when the chain
    * to spread contains exchanges (a join output feeding a CPU-bound
    * verify, say), calling `.rdd` on it under AQE would materialize its
    * shuffle stages just to read a partition count. Pass the scan-rooted
    * frame the chain derives from — if the source corpus arrives as one
    * split it is small and the spread is needed; if it arrives wide, the
    * chain's own exchanges already fan it out and the cap would only
    * hurt. */
  def fanOut(df: DataFrame, probe: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (probe.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Keyed variant of [[fanOut]] for CPU-dense keyed windows/joins: when
    * the (scan-rooted) probe arrives under-partitioned, pre-shuffle df to
    * an explicit defaultParallelism-width hash layout on `keys` — user
    * repartitions with explicit counts are exempt from AQE coalescing,
    * and downstream windows/joins whose partition keys contain `keys`
    * reuse the layout exchange-free. Without this, AQE coalesces the
    * window's tiny-byte exchange blind to the CPU-dense window work above
    * it (observed: a 4-WindowExec session pipeline over 100k events ran
    * 3 tasks at 1.3 s each). At scale the probe arrives wide and this is
    * a plan-level no-op, so the dynamic exchange keeps AQE's sizing. */
  def fanOutBy(df: DataFrame, probe: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (probe.rdd.getNumPartitions < target) df.repartition(target, keys: _*)
    else df
  }

  /** Explicit-broadcast hint GATED on an actual row count, for join
    * sides that are provably dim-scale in this dataset family (item
    * catalogs, degree tables, mass vectors) but grow linearly with the
    * corpus: post-aggregate size ESTIMATES block auto-broadcast even
    * when the side is tiny, while an unconditional broadcast() hint
    * would bypass autoBroadcastJoinThreshold and OOM the driver (or hit
    * the 8 GB broadcast cap) at a web-scale item universe — the exact
    * failure mode a forced hint trades for the old sort-merge's graceful
    * degradation. Callers must pass a frame that is CHEAP to count —
    * checkpointed, or a small-aggregate output — because the count runs
    * eagerly here. The limit is [[BroadcastRowLimit]]. */
  def broadcastIfSmall(df: DataFrame): DataFrame =
    if (df.count() <= BroadcastRowLimit) broadcast(df) else df

  /** Row count up to which [[broadcastIfSmall]] broadcasts: 5e6 rows is
    * tens of MB for the narrow dim-scale rows it gates. */
  val BroadcastRowLimit = 5000000L

  /** `df` eagerly local-checkpointed at `level`: the one way this library
    * materializes a frame. The checkpoint RDD's id is recorded under
    * `df.sparkSession`, so [[releaseSession]] can free it even when no
    * frame that reads it is left to hand to [[release]]. Only the id is
    * kept: an unreachable checkpoint still goes to the ContextCleaner.
    *
    * Spark persists the checkpoint RDD before its job runs, so the frame is
    * checkpointed lazily and then materialized by one job here (the job the
    * eager form runs): if that job throws, the RDD is unpersisted before the
    * error propagates instead of staying persisted with no frame to release
    * it through. */
  def checkpoint(df: DataFrame): DataFrame = checkpoint(df, StorageLevel.MEMORY_AND_DISK)

  def checkpoint(df: DataFrame, level: StorageLevel): DataFrame = {
    val c = df.localCheckpoint(false, level)
    val rdds = checkpoints(c)
    made.synchronized(made.computeIfAbsent(df.sparkSession, _ => mutable.Set.empty[Int]) ++= rdds.map(_.id))
    try rdds.foreach(_.count())
    catch {
      case e: Throwable =>
        rdds.foreach(_.unpersist(blocking = false))
        throw e
    }
    c
  }

  /** Unpersist the checkpoint RDDs `df` reads. `Dataset.unpersist` does
    * nothing to them; call this once nothing will read `df` again. */
  def release(df: DataFrame): Unit = checkpoints(df).foreach(_.unpersist(blocking = false))

  /** Unpersist every checkpoint [[checkpoint]] made under `s` that is still
    * persisted, and forget their ids. */
  private[graft] def releaseSession(s: SparkSession): Unit = {
    val ids = made.synchronized(Option(made.remove(s)).fold(Seq.empty[Int])(_.toSeq))
    val live = s.sparkContext.getPersistentRDDs
    ids.flatMap(live.get).foreach(_.unpersist(blocking = false))
  }

  /** Ids of the checkpoints made under each session, the session held weakly. */
  private val made = new java.util.WeakHashMap[SparkSession, mutable.Set[Int]]

  /** The checkpoint RDDs `df` reads: the RDD under each `LogicalRDD` of its
    * logical plan. */
  def checkpoints(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  /** The RDD `build` returns, built only when a job first needs its
    * partitions: Spark computes every ancestor's partitions on the
    * submitting thread before it schedules a job. `df.rdd` and
    * `df.queryExecution.toRdd` plan `df` at once, and under AQE run its
    * shuffle stages then and there, as does any RDD whose constructor reads
    * its parents' partitions (`cartesian`, `zipPartitions`); an operator
    * that builds them in here fires no job while its caller is still
    * building a frame. */
  def deferred[T: ClassTag](sc: SparkContext)(build: => RDD[T]): RDD[T] =
    new Deferred(sc, () => build)

  private final class Deferred[T: ClassTag](sc: SparkContext, @transient build: () => RDD[T])
      extends RDD[T](sc, Nil) {
    @transient private lazy val built: RDD[T] = build()
    override protected def getDependencies: Seq[Dependency[_]] =
      Seq(new OneToOneDependency(built))
    override protected def getPartitions: Array[Partition] = built.partitions
    override protected def getPreferredLocations(split: Partition): Seq[String] =
      firstParent[T].preferredLocations(split)
    override def compute(split: Partition, context: TaskContext): Iterator[T] =
      firstParent[T].iterator(split, context)
  }
}
