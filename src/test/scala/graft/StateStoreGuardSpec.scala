package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Preserved state has ONE commit protocol: `graft.incr.StateStore`.
  * This guard fails when a module outside the store names the version
  * pointer or writes a DataFrame under the state-keeping packages. */
class StateStoreGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/incr/StateStore.scala")
  private val statePackages =
    Seq("iter", "text", "stream", "incr").map(p => root.resolve(s"graft/$p"))

  /** A DataFrame writer (`.write.` or a line ending in `.write`); an
    * output stream's `.write(` and `.writeStream` do not match. */
  private val dataFrameWrite = """\.write\b(?!\s*\()""".r

  /** Writers that stay outside the store, with the reason. */
  private val exempt: Seq[(String, String => Boolean)] = Seq(
    // IncrMerge.writePartials: a plain, unversioned parquet layout
    // that perfbench's kvmerge cell writes and reads back at its own
    // path through Tables.tbl
    "graft/incr/IncrMerge.scala" ->
      (_.trim == """parts.write.mode("overwrite").parquet(path)"""),
    // MergeInto: mergeIntoPartitioned commits in place into a table
    // its readers read at its own path (and its declared row writes
    // that table's base)
    "graft/incr/MergeInto.scala" -> (_ => true),
    // StreamOps: the stream rows stage the input files their file
    // source reads (`src`, `stage`), and sink compaction writes its
    // landing layout and the compacted copy — stream input and
    // output layouts, not preserved state
    "graft/stream/StreamOps.scala" -> (l =>
      """\.parquet\((src|stage|outPath|s"\$r/landing")\)$""".r
        .findFirstIn(l.trim).isDefined))

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  test("no version pointer and no DataFrame write outside the state " +
      "store") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50)
    val hits = for {
      p <- sources if p != owner
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      if !isComment(line)
      pointer = line.contains("_CURRENT")
      write = statePackages.exists(p.startsWith) &&
        dataFrameWrite.findFirstIn(line).isDefined &&
        !exempt.exists { case (f, ok) => p.endsWith(f) && ok(line) }
      if pointer || write
    } yield s"$p:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
