package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Invertible incremental state has ONE signed merge:
  * `graft.incr.Maintain.signedMerge` (with `Maintain.signedBy` for
  * '+'/'-' change rows), and every change set has ONE split:
  * `graft.incr.Delta`. This guard fails when a module writes the sign
  * encoding, the registry's 10-way split, or a touched-group rule's
  * post-delta rows and affected keys by hand again. */
class MaintainGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/incr/Maintain.scala")
  private val deltaOwner = root.resolve("graft/incr/Delta.scala")

  private def sources = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val all = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(all.size > 50)
    all
  }

  private def linesOf(p: Path) = Files.readAllLines(p).asScala.zipWithIndex

  /** The shapes of a hand-rolled signed merge: a sign parameter, a sign
    * multiplied into a measure, a measure negated under its own name
    * (the minus leg of a union), a -1 literal measure, and an op flag
    * turned into a sign. */
  private val handRolled = Seq(
    """\b(sign|sgn)\s*:\s*(Int|Long)\b""",
    """\*\s*(sign|sgn)\b""",
    """\(-col\("(\w+)"\)\)\.as\("\1"\)""",
    """select\(lit\(-1L?\)\.as\(""",
    """withColumn\("(\w+)",\s*-col\("\1"\)\)""",
    """col\("op"\)\s*===\s*"[+-]"""").map(_.r)

  test("no hand-rolled signed merge outside incr/Maintain.scala") {
    val hits = for {
      p <- sources if p != owner
      (line, n) <- linesOf(p)
      if handRolled.exists(_.findFirstIn(line).isDefined)
    } yield s"$p:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  /** A Column predicate of the registry's 10-way split (`k % 10` against
    * 0 or 1). Oracle SQL (`% 10 <> 1`) is text and does not match. */
  private val tenWaySplit = """% 10 (===|=!=) [01]\b""".r

  /** The `% 10` Column predicates that are not a change set's split,
    * each with its reason: (file under src/main/scala, trimmed line). */
  private val notChangeSets: Map[(String, String), String] = {
    val merge = "MERGE target and 'I' source rows of q_incr_merge_into / " +
      "q_incr_merge_partitioned: MERGE clause semantics, whose I/U/D " +
      "source rows (updates % 10 = 3, deletes % 10 = 7) are MergeInto's " +
      "own input format"
    Map(
      ("graft/incr/MergeInto.scala",
        """val base = o.filter(col("o_orderkey") % 10 =!= 0)""") -> merge,
      ("graft/incr/MergeInto.scala",
        """o.filter(col("o_orderkey") % 10 === 0)""") -> merge,
      ("graft/incr/MergeInto.scala",
        """col("o_orderkey") % 10 === 0)""") -> merge)
  }

  test("the 10-way change-set split is written once, in incr/Delta.scala") {
    val splits = for {
      p <- sources if p != deltaOwner
      (line, n) <- linesOf(p) if tenWaySplit.findFirstIn(line).isDefined
    } yield (p, n, (root.relativize(p).toString, line.trim))
    val hits = splits.collect { case (p, n, key) if !notChangeSets.contains(key) =>
      s"$p:${n + 1}: ${key._2}" }
    assert(hits.isEmpty, "split a table through graft.incr.Delta:" +
      hits.mkString("\n", "\n", ""))
    val stale = notChangeSets.keySet -- splits.map(_._3)
    assert(stale.isEmpty, "allow-listed lines that no longer exist:" +
      stale.mkString("\n", "\n", ""))
  }

  /** A touched-group rule call, up to the end of its first argument
    * list. */
  private val groupRecomputeCall =
    """(?s)Maintain\.groupRecompute(Memo)?\((.*?)\)\(""".r

  test("touched-group call sites take post rows and touched keys from a Delta") {
    // the facade forwards its caller's own post rows and affected keys
    val facade = root.resolve("graft/Graft.scala")
    val hits = for {
      p <- sources if p != owner && p != facade
      m <- groupRecomputeCall.findAllMatchIn(Files.readString(p))
      args = m.group(2)
      if !args.contains(".post") || !args.contains(".touchedKeys(")
    } yield s"$p: ${m.matched.linesIterator.mkString(" ").take(160)}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
