package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The iteration machinery has ONE definition each: the fixed-count
  * loop and the scaled-integer PageRank format in `graft.iter.Loop`,
  * the min-label collapse in `graft.iter`, and the conf scope in
  * `graft.engine.Sessions.withConf`. This guard fails when a module
  * writes one of them by hand again. */
class IterGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val loop = root.resolve("graft/iter/Loop.scala")
  private val iterDir = root.resolve("graft/iter")
  private val sessions = root.resolve("graft/engine/Sessions.scala")

  /** (pattern, where it may appear) */
  private val rules: Seq[(scala.util.matching.Regex, Path => Boolean)] = Seq(
    // the lineage-cut cadence of a fixed-count loop
    """%\s*checkpointEvery\b""".r -> (_ == loop),
    // PageRank's teleport and scale literals
    """\b(1500000000|10000000000)L?\b""".r -> (_ == loop),
    """\bminLabelCollapseLocal\(""".r -> (_.startsWith(iterDir)),
    // a conf restore-or-unset: the explicit-setting probe and the unset
    """conf\.unset\(|conf\.get\([^)]*,\s*null\)""".r -> (_ == sessions))

  /** Lines that match a rule but are not the machinery it guards. */
  private val exempt = Seq(
    // q_agg_min_max_by's tie-free ordering key, cents·1e10 + orderkey
    "ops/Aggs.scala" -> """lit(10000000000L) + col("o_orderkey")""")

  /** `text` with every triple-quoted string that holds a SELECT blanked
    * out: the DuckDB oracles spell the PageRank format in SQL, and the
    * oracle text is the reference, not a copy. Newlines are kept, so
    * line numbers stay right. */
  private def withoutOracleSql(text: String): String =
    "(?s)\"\"\".*?\"\"\"".r.replaceAllIn(text, m =>
      if (m.matched.contains("SELECT"))
        java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " "))
      else java.util.regex.Matcher.quoteReplacement(m.matched))

  test("no hand-written loop, PageRank format, collapse or conf scope " +
      "outside their definitions") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50)
    val hits = for {
      p <- sources
      (line, n) <- withoutOracleSql(Files.readString(p)).split("\n", -1).toSeq.zipWithIndex
      if rules.exists { case (re, allowed) =>
        !allowed(p) && re.findFirstIn(line).isDefined }
      if !exempt.exists { case (f, frag) =>
        p.toString.endsWith(f) && line.contains(frag) }
    } yield s"$p:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
