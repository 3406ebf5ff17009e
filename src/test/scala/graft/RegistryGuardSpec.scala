package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The registry has ONE declaration path: a module lists its rows as
  * `graft.engine.Query` values in `queries`, and `SparkEntry.all`
  * joins those lists. These guards fail when a module grows a
  * name-keyed `defs`/`sql` map again, when two rows share a name (the
  * maps derived from `all` would keep only one), when a row list
  * kept elsewhere names a row that is not registered, when a module
  * is filed by the batch that added it (`Round…`, `Extras`) instead of
  * by its family, or when one oracle SQL text is written twice. */
class RegistryGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owner = root.resolve("graft/SparkEntry.scala")

  /** `val defs: Map[String, Q] = …`, `def sqlCore: Map[String, String]`,
    * `val sql = Map(…)`: any map whose name starts with defs or sql. */
  private val registryMap =
    ("""\b(?:val|def)\s+(?:defs|sql)\w*\s*""" +
      """(?::\s*Map\[String\b|(?::[^=\n]*)?=\s*Map\s*[\[(.])""").r

  private def sources = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val all = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(all.size > 50 && all.contains(owner))
    all
  }

  test("no defs/sql registry map outside SparkEntry") {
    val hits = for {
      p <- sources if p != owner
      m <- registryMap.findAllMatchIn(Files.readString(p))
    } yield s"$p: ${m.matched}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("every row name is declared once in SparkEntry.all") {
    val dups = SparkEntry.all.groupBy(_.name).collect {
      case (name, rows) if rows.size > 1 => s"$name (${rows.size}x)"
    }
    assert(dups.isEmpty, dups.mkString("duplicate row names: ", ", ", ""))
    assert(SparkEntry.queries.keySet == SparkEntry.all.map(_.name).toSet)
  }

  test("ClusterSmoke's rows and the streaming rows are registered rows") {
    val names = SparkEntry.queries.keySet
    val smoke = graft.tools.ClusterSmoke.ValueRows.toSet ++
      graft.tools.ClusterSmoke.mayBeEmpty
    val missing = smoke -- names
    assert(missing.isEmpty, s"unregistered ClusterSmoke rows: $missing")
    assert(SparkEntry.streamingRows == Set(
      "q_stream_sink_roundtrip", "q_stream_restart_exactly_once",
      "q_stream_join_interval", "q_stream_dedup", "q_stream_merge_upsert"))
    assert(SparkEntry.streamingRows.subsetOf(names))
  }

  test("no module is named for a batch: Round<n>… or Extras") {
    val batchName = """Round\d+\w*|Extras""".r
    val topObject = """(?m)^object\s+(\w+)""".r
    val hits = sources.flatMap { p =>
      val file = p.getFileName.toString.stripSuffix(".scala")
      val objs = topObject.findAllMatchIn(Files.readString(p)).map(_.group(1))
      (Seq(file) ++ objs).distinct.filter(batchName.matches)
        .map(n => s"$p: $n")
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("no SELECT-bearing SQL literal is written twice") {
    val literal = "(?s)\"\"\"(.*?)\"\"\"".r
    val copies = (for {
      p <- sources
      text = Files.readString(p)
      m <- literal.findAllMatchIn(text) if m.group(1).contains("SELECT")
    } yield m.group(1).trim.replaceAll("\\s+", " ") -> {
      val line = text.substring(0, m.start).count(_ == '\n') + 1
      s"${root.relativize(p)}:$line"
    }).groupBy(_._1).values.filter(_.size > 1).map(_.map(_._2).mkString(" = "))
    assert(copies.isEmpty,
      copies.mkString("\nshare one definition instead:\n", "\n", ""))
  }
}
