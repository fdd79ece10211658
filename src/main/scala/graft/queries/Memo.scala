package graft.queries

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once reuse of a query-layer result within one session: the
  * ratings, fits, indexes and round trips that several queries, or the
  * driver's re-runs of one query, share.
  *
  * A site declares one handle, [[Memo.frames]] for a DataFrame or
  * `Memo[V](frames)` naming the DataFrames a `V` holds, and calls
  * `handle(s, key) { build }`. A (session, key) builds once, also when
  * threads ask at once; a build may call other handles, and one that
  * throws runs again on the next call.
  *
  * Lifetime: an entry lives until [[Memo.release]] of its session or the
  * end of the JVM. A fresh `spark.newSession()` is a cold epoch, and a dir
  * whose contents change within one session is served stale.
  */
private[graft] final class Memo[V] private (frames: V => Seq[DataFrame]) {
  def apply(s: SparkSession, key: Any)(build: => V): V =
    Memo.cells.computeIfAbsent((this, s, key), _ => new Memo.Cell[V](() => build, frames))
      .asInstanceOf[Memo.Cell[V]].value
}

private[graft] object Memo {
  def apply[V](frames: V => Seq[DataFrame]): Memo[V] = new Memo(frames)
  def frames: Memo[DataFrame] = new Memo[DataFrame](Seq(_))

  /** The map step only installs a cell; forcing `value` runs the build
    * under the cell's own lock. */
  private final class Cell[V](build: () => V, frames: V => Seq[DataFrame]) {
    @volatile private var built = false
    lazy val value: V = { val v = build(); built = true; v }
    def release(): Unit =
      if (built) frames(value).flatMap(Tables.checkpoints).foreach(_.unpersist(blocking = false))
  }

  private val cells = new ConcurrentHashMap[(Memo[_], SparkSession, Any), Cell[_]]

  /** Drop the entries of `s` and unpersist the checkpoint RDDs their frames read. */
  def release(s: SparkSession): Unit =
    cells.keySet.asScala.filter(_._2 eq s).foreach(k => Option(cells.remove(k)).foreach(_.release()))
}
