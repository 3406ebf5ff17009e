package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Stored state has ONE mechanism: `graft.engine.Memos` (`frame`,
  * `value`, `scratchDir`). This guard fails the build when a module
  * grows its own memo map, store type or scratch-dir recipe again. */
class MemoApiGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/engine/Memos.scala")
  private val forbidden =
    Seq("concurrent.TrieMap", "Memos.Store", "Memos.register", "java.io.tmpdir")

  test("no memo mechanism outside engine/Memos.scala") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50 && sources.contains(owner))
    val hits = for {
      p <- sources if p != owner
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      pat <- forbidden if line.contains(pat)
    } yield s"$p:${i + 1}: $pat"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
