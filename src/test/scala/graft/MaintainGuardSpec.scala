package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Invertible incremental state has ONE signed merge:
  * `graft.incr.Maintain.signedMerge` (with `Maintain.signedBy` for
  * '+'/'-' change rows). This guard fails when a module writes the
  * sign encoding by hand again. */
class MaintainGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/incr/Maintain.scala")

  /** The shapes of a hand-rolled signed merge: a sign parameter, a sign
    * multiplied into a measure, a measure negated under its own name
    * (the minus leg of a union), a -1 literal measure, and an op flag
    * turned into a sign. */
  private val handRolled = Seq(
    """\b(sign|sgn)\s*:\s*(Int|Long)\b""",
    """\*\s*(sign|sgn)\b""",
    """\(-col\("(\w+)"\)\)\.as\("\1"\)""",
    """select\(lit\(-1L?\)\.as\(""",
    """col\("op"\)\s*===\s*"[+-]"""").map(_.r)

  test("no hand-rolled signed merge outside incr/Maintain.scala") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50)
    val hits = for {
      p <- sources if p != owner
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      if handRolled.exists(_.findFirstIn(line).isDefined)
    } yield s"$p:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
