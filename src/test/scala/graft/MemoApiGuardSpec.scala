package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Stored state has ONE mechanism: `graft.engine.Memos` (`frame`,
  * `value`, `scratchDir`), and fixture tables ONE read path:
  * `graft.engine.Tables`. These guards fail the build when a module
  * grows its own memo map, store type or scratch-dir recipe again, or
  * reads a fixture table around the table catalog. */
class MemoApiGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/engine/Memos.scala")
  private val forbidden =
    Seq("concurrent.TrieMap", "Memos.Store", "Memos.register", "java.io.tmpdir")

  /** Fixture tables live at `<dir>/<name>.parquet`; only
    * engine/Tables.scala may spell that path — in a string literal or
    * a SQL path reference (parquet.`<dir>/<name>.parquet`) — so every
    * fixture read goes through the per-session table catalog
    * (`Tables.tbl`, `Tables.runSql`). The one exemption is GenScale,
    * which copies the fixture's physical layout file for file and so
    * must not see `events`' normalized `ts`. */
  private val tables = root.resolve("graft/engine/Tables.scala")
  private val rawCopiers = Set(root.resolve("graft/tools/GenScale.scala"))
  private val fixturePath = "[\"`][^\"`]*/[^\"`/]*\\.parquet[\"`]".r

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val all = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(all.size > 50 && all.contains(owner) && all.contains(tables))
    all
  }

  private def lines(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex.map { case (l, i) => (l, i + 1) }

  test("no memo mechanism outside engine/Memos.scala") {
    val hits = for {
      p <- sources if p != owner
      (line, n) <- lines(p)
      pat <- forbidden if line.contains(pat)
    } yield s"$p:$n: $pat"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("no fixture-table path outside engine/Tables.scala") {
    val tableLines = lines(tables)
    assert(tableLines.exists { case (l, _) => fixturePath.findFirstIn(l).isDefined },
      "the pattern no longer matches Tables' own path")
    val hits = for {
      p <- sources if p != tables && !rawCopiers(p)
      (line, n) <- lines(p) if fixturePath.findFirstIn(line).isDefined
    } yield s"$p:$n: $line"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
