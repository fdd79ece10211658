package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory: UTC, AQE, local-core-sized shuffle partitions,
  * and nanos-as-long parquet reads (the `events` table is TIMESTAMP(NANOS),
  * which vanilla Spark refuses).
  *
  * It is also the one place that makes generated code JVM-wide. Spark's
  * codegen cache is keyed on (class loader, code), and session artifact
  * isolation gives every session its own executor class loader, so with it
  * every `newSession()` recompiles every whole-stage class. Sessions built
  * here therefore share added artifacts (jars, files, classes); graft adds
  * none. Both settings are fixed, not options: a fresh session starts every
  * `queries.Memo` cold but reuses the JVM's compiled classes. */
object GraftSession {

  /** Codegen cache size: one pass over all 503 entries compiles 7,607 distinct classes (Spark's default holds 100). */
  val CodegenCacheEntries = 8192

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def get(): SparkSession = {
    // Default to every core (the target environment is local[32]);
    // shuffle partitions track the core count per the sizing contract,
    // overridable independently for experiments.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val s = builder(cpus)
      .config("spark.sql.shuffle.partitions", shuffle)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.register(s)
    s
  }
}
