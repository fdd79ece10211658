package graft.queries

import org.apache.spark.sql.DataFrame

/** Scratch-dir hygiene for the round-trip queries (model save/load, CSV
  * and JSONL write-read): the round trip builds against a temp dir, the
  * (small) result is materialized eagerly so nothing references the
  * files afterwards, and the dir is deleted — repeated bench/validate
  * runs in one process must not leak disk. Callers memoize the returned
  * checkpointed frame through [[Memo]].
  */
private[queries] object Scratch {

  /** Run `build` against a fresh temp dir, eagerly materialize its
    * result (the checkpoint severs the file dependency), delete the
    * dir. */
  def cleaned(prefix: String)(build: java.nio.file.Path => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try graft.Tables.checkpoint(build(tmp))
    finally deleteRecursively(tmp)
  }

  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      // walk() is depth-first pre-order: reversed, children precede dirs.
      val all = java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }
}
