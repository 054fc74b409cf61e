package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One owner for in-call materializations: `graft.util.WorkingSet` is the
  * only main source that persists or unpersists a frame. Local checkpoints
  * stay allowed, because results that escape their call still use them.
  */
class WorkingSetGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src", "main", "scala")
  private val owner = root.resolve(Paths.get("graft", "util", "WorkingSet.scala"))
  private val forbidden = Seq(".cache()", ".persist(", ".unpersist(")

  test("only util/WorkingSet.scala persists or unpersists") {
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(sources.contains(owner))
    val hits = for {
      p <- sources if p != owner
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      token <- forbidden if line.contains(token)
    } yield s"$p:${i + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
