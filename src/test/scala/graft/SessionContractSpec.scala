package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The session-environment contract the whole query surface assumes —
  * a silent config drift (AQE off, wrong timezone, legacy-nanos reset,
  * shuffle partitions back to 200, per-session class loaders) would change
  * plans, timestamp semantics or the fixed cost per query without failing
  * any operator test directly. */
class SessionContractSpec extends AnyFunSuite {

  test("GraftSession pins AQE, UTC, nanos-as-long, and core-sized shuffles") {
    val s = GraftSession.builder("4").getOrCreate()
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4",
      "shuffle partitions must track the requested core count, not Spark's 200 default")
    // the custom expression must be SQL-registered by the factory path
    graft.functions.register(s)
    val r = s.sql("SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head()
    assert(r.getDouble(0) == 11.0)
  }

  test("every session, fresh ones included, shares compiled code: no artifact isolation, a sized codegen cache") {
    val root = GraftSession.builder("4").getOrCreate()
    for (s <- Seq(root, root.newSession(), root.newSession().newSession())) {
      assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false",
        "an isolated session gets its own executor class loader and recompiles every stage")
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == GraftSession.CodegenCacheEntries.toString)
    }
    // The cache size is static: one JVM-wide cache, fixed when the context
    // starts. Isolation is a session conf that a session reads once, at its
    // first query; a fresh session inherits `false` from the context's conf
    // unless it sets it itself before that.
    assert(!root.conf.isModifiable("spark.sql.codegen.cache.maxEntries"))
    assert(root.conf.isModifiable("spark.sql.artifact.isolation.enabled"))
    assert(GraftSession.CodegenCacheEntries > 100, "Spark's default of 100 is below one query_mix pass")
  }

  private val builderCall = "SparkSession\\s*\\.\\s*builder\\b".r
  /** Block comments, char and string literals, line comments, in that order. */
  private val notCode =
    Seq("(?s)/\\*.*?\\*/", "'(?:\\\\.|[^'\\\\])'", "\"[^\"\\\\\n]*+(?:\\\\.[^\"\\\\\n]*+)*+\"", "//[^\n]*").map(_.r)

  /** Files under `roots` (those that exist) whose code, comments and
    * strings aside, calls `SparkSession.builder`. */
  private def builderCallers(roots: String*): Set[String] =
    roots.map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { root =>
      Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).filter { f =>
        val code = notCode.foldLeft(Files.readString(f))((src, re) => re.replaceAllIn(src, " "))
        builderCall.findFirstIn(code).isDefined
      }.map(_.getFileName.toString)
    }.toSet

  test("no source but GraftSession calls SparkSession.builder") {
    // Bench, Verify, Probe, the specs and perfbench's Main all build their
    // session through GraftSession.builder, so all share its code cache.
    assert(builderCallers("src/main/scala", "src/test/scala", "perfbench/scala") === Set("GraftSession.scala"))
  }
}
