package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Diagnostics go through `graft.tools.Probe`, not through new one-off
  * mains: these are the only objects allowed to define `main`. */
class MainInventorySpec extends AnyFunSuite {

  private val mainDef = "def\\s+main\\s*\\(".r
  private val objectDef = "object\\s+(\\w+)".r
  private val packageDef = "(?m)^package\\s+([\\w.]+)".r

  /** Fully qualified name of each object under `root` that defines `main`
    * (the nearest object declared before the definition). */
  private def mainObjects(root: String): Set[String] =
    Files.walk(Paths.get(root)).iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val src = Files.readString(f)
      val pkg = packageDef.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objects = objectDef.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      mainDef.findAllMatchIn(src).map { m =>
        pkg + objects.filter(_._1 < m.start).lastOption.map(_._2).getOrElse(f.toString)
      }
    }.toSet

  test("src/main defines main only in Bench, Verify and tools.Probe") {
    assert(mainObjects("src/main/scala") ===
      Set("graft.Bench", "graft.Verify", "graft.tools.Probe"))
  }

  test("src/test defines main only in DegenerateProbe") {
    assert(mainObjects("src/test/scala") === Set("DegenerateProbe"))
  }
}
