package graft.queries

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.Tables
import org.apache.spark.sql.SparkSession

/** Build-once reuse of a query-layer result within one session: the
  * ratings, fits, indexes and round trips that several queries, or the
  * driver's re-runs of one query, share.
  *
  * A site declares one `Memo[V]` handle and calls
  * `handle(s, key) { build }`. A (session, key) builds once, also when
  * threads ask at once; a build may call other handles, and one that
  * throws runs again on the next call.
  *
  * Lifetime: an entry, and every checkpoint made under its session, lives
  * until [[Memo.release]] of that session or the end of the JVM; a
  * checkpoint that nothing reads may go earlier, to the ContextCleaner. A
  * fresh `spark.newSession()` is a cold epoch, and a dir whose contents
  * change within one session is served stale.
  */
private[graft] final class Memo[V] {
  def apply(s: SparkSession, key: Any)(build: => V): V =
    Memo.cells.computeIfAbsent((this, s, key), _ => new Memo.Cell[V](() => build))
      .asInstanceOf[Memo.Cell[V]].value
}

private[graft] object Memo {
  /** The map step only installs a cell; forcing `value` runs the build
    * under the cell's own lock. */
  private final class Cell[V](build: () => V) {
    lazy val value: V = build()
  }

  private val cells = new ConcurrentHashMap[(Memo[_], SparkSession, Any), Cell[_]]

  /** Drop the entries of `s` and unpersist every checkpoint made under `s`
    * ([[Tables.checkpoint]]): what the entries hold, the intermediates their
    * builds left, and those of frames built outside any memo. A frame of `s`
    * that reads one of them cannot be used afterwards. */
  def release(s: SparkSession): Unit = {
    cells.keySet.asScala.filter(_._2 eq s).foreach(cells.remove)
    Tables.releaseSession(s)
  }
}
