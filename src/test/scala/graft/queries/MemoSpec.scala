package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query layer's one memo: a (session, key) builds once under
  * concurrency and through nested builds, sessions never share entries,
  * and `release` leaves nothing persisted. Every case runs on its own
  * `newSession()`, so a release never touches the suite's session. */
class MemoSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fresh(): SparkSession = {
    val s = spark.newSession()
    graft.functions.register(s)
    s
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointIds(df: DataFrame): Set[Int] = Tables.checkpoints(df).map(_.id).toSet

  test("concurrent first calls build once and share one value") {
    val s = fresh()
    val memo = new Memo[DataFrame]
    val builds = new AtomicInteger
    val entered = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    def ask() = new Thread(() => {
      results.add(memo(s, "k") {
        builds.incrementAndGet()
        entered.countDown()
        proceed.await()
        s.range(3).toDF()
      })
    })
    val first = ask()
    first.start()
    entered.await()
    val second = ask()
    second.start()
    // The second caller waits on the first one's build instead of running its own.
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (second.getState != Thread.State.BLOCKED && System.nanoTime() < deadline) Thread.sleep(5)
    assert(second.getState == Thread.State.BLOCKED)
    assert(builds.get == 1)
    proceed.countDown()
    first.join(); second.join()
    val Seq(a, b) = results.asScala.toSeq
    assert(builds.get == 1)
    assert(a eq b)
    Memo.release(s)
  }

  test("a build may call other memos; each builds once, and a failed build is retried") {
    val s = fresh()
    val inner = new Memo[DataFrame]
    val outer = new Memo[DataFrame]
    val (innerBuilds, outerBuilds) = (new AtomicInteger, new AtomicInteger)
    def innerFrame = inner(s, "k") { innerBuilds.incrementAndGet(); s.range(2).toDF() }
    def outerFrame = outer(s, "k") { outerBuilds.incrementAndGet(); innerFrame.union(innerFrame) }
    assert(outerFrame eq outerFrame)
    assert(innerFrame.count() == 2 && outerFrame.count() == 4)
    assert(innerBuilds.get == 1 && outerBuilds.get == 1)

    val flaky = new Memo[DataFrame]
    val attempts = new AtomicInteger
    def flakyFrame = flaky(s, "k") {
      if (attempts.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      s.range(1).toDF()
    }
    assertThrows[IllegalStateException](flakyFrame)
    assert(flakyFrame eq flakyFrame)
    assert(attempts.get == 2)
    Memo.release(s)
  }

  test("one key on two sessions builds twice; releasing one leaves the other's checkpoint") {
    val (s1, s2) = (fresh(), fresh())
    val memo = new Memo[DataFrame]
    val builds = new AtomicInteger
    def frame(s: SparkSession) = memo(s, "k") {
      builds.incrementAndGet()
      Tables.checkpoint(s.range(5).toDF())
    }
    val (a, b) = (frame(s1), frame(s2))
    assert(builds.get == 2)
    assert(a.sparkSession eq s1)
    assert(b.sparkSession eq s2)
    val (idA, idB) = (checkpointIds(a), checkpointIds(b))
    assert(idA.size == 1 && idB.size == 1 && idA != idB)
    assert((idA ++ idB).subsetOf(persisted))
    Memo.release(s2)
    assert(idA.subsetOf(persisted))
    assert(!idB.subsetOf(persisted))
    assert(frame(s1) eq a)
    assert(builds.get == 2)
    Memo.release(s1)
    assert(!idA.subsetOf(persisted))
  }

  test("release unpersists a session's checkpoints, and the next call rebuilds the same rows") {
    val s = fresh()
    val before = persisted
    def built() = {
      val model = CmfQueries.explicitModel(s, dir)
      Seq(CmfQueries.custPartRatings(s, dir), SourceQueries.csvRoundtrip(s, dir)) ++ model.factors
    }
    val first = built()
    val firstIds = first.flatMap(checkpointIds).toSet
    assert(firstIds.size == first.size)
    assert(firstIds.subsetOf(persisted -- before))
    // The old frames cannot be read once released: keep their rows locally.
    val rows = first.map(df => s.createDataFrame(df.collect().toSeq.asJava, df.schema))

    Memo.release(s)
    assert((persisted -- before).isEmpty)

    val second = built()
    assert(second.flatMap(checkpointIds).toSet.intersect(firstIds).isEmpty)
    rows.zip(second).foreach { case (old, now) =>
      assert(old.exceptAll(now).isEmpty && now.exceptAll(old).isEmpty)
    }
    Memo.release(s)
    assert((persisted -- before).isEmpty)
  }

  test("release leaves nothing persisted after building every entry on one session") {
    val s = fresh()
    val before = persisted
    val added = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val start = persisted
      fn(s, dir)
      name -> (persisted -- start)
    }
    Memo.release(s)
    val left = persisted -- before
    val holders = added.collect { case (name, ids) if (ids & left).nonEmpty => s"$name (${(ids & left).size})" }
    assert(left.isEmpty, s"${left.size} RDDs still persisted, added by: ${holders.mkString(", ")}")
  }

  test("a checkpoint runs one job, and one whose job throws leaves nothing persisted") {
    import org.apache.spark.graftshim.JobCount
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val s = fresh()
    val before = persisted
    val (ok, jobs) = JobCount(s.sparkContext)(Tables.checkpoint(s.range(10).toDF()))
    assert(jobs == 1)
    assert(checkpointIds(ok).size == 1 && checkpointIds(ok).subsetOf(persisted))
    Tables.release(ok)
    val failing = s.range(100).select(when(col("id") === 42, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    val e = intercept[Exception](Tables.checkpoint(failing))
    assert(e.getMessage.contains("boom"), e.getMessage)
    assert(persisted == before)
    Memo.release(s)
  }

  test("an entry that fits a model it does not keep releases the model's factor tables") {
    val s = fresh()
    val before = persisted
    val outs = Seq(CmfQueries.alsImplicit _, CmfQueries.alsNonnegative _,
      CmfQueries.cmfFitPredict _, CmfQueries.cmfImplicit _).map(_(s, dir))
    val inputs = Seq(CmfQueries.custPartRatings(s, dir), CmfQueries.partSuppPairs(s, dir))
    assert(persisted -- before == (outs ++ inputs).flatMap(checkpointIds).toSet)
    Memo.release(s)
  }

  test("no file under src/main/scala/graft/queries hand-rolls a memo") {
    val offenders = Files.walk(Paths.get("src/main/scala/graft/queries")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { f =>
        val src = Files.readString(f)
        src.contains("TrieMap") || src.contains("getOrElseUpdate")
      }
      .map(_.getFileName.toString).toSet
    assert(offenders.isEmpty)
  }

  test("no file under src/main checkpoints a frame except through Tables.checkpoint") {
    val offenders = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Tables.scala")
      .filter(f => Files.readString(f).contains(".localCheckpoint(true"))
      .map(_.toString).toSet
    assert(offenders.isEmpty)
  }
}
