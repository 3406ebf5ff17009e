package graft.tools

import graft.SparkEntry
import graft.engine.{Memos, Sessions}
import java.nio.file.{Files, Paths}

/** Writes every registry row's optimized logical plan, one file per
  * row, with expression ids (`#123`), generated names, codegen and
  * stage ids, lambda classes, object addresses and temp-dir paths
  * normalized, so two builds' dumps can be diffed with `diff -r`:
  *
  * {{{
  * sbt "Test/runMain graft.tools.PlanDump <sfDir> <outDir> [row ...]"
  * }}}
  *
  * Rows run in name order with stored state cleared before each, so a
  * row's plan does not depend on registry order or on which row built
  * a shared memo first. A row whose plan throws writes its error
  * message instead. A refactor that moves code but changes no plan
  * shows no differing file. */
object PlanDump {
  private val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")

  def normalize(plan: String): String = plan
    .replaceAll("#\\d+L?", "#")
    .replaceAll(java.util.regex.Pattern.quote(tmp) + "/[^\\s,\\]\\)]*", "<tmp>")
    .replaceAll("local-\\d+", "<app>")
    .replaceAll("(RDD|rdd)\\s*\\[?\\d+\\]?", "$1<id>")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("_common_expr_\\d+", "_common_expr_")
    .replaceAll("[\\w.$]*\\$\\$Lambda[^,\\s]*", "<lambda>")
    .replaceAll("\\$@[0-9a-f]+", "\\$@<obj>")
    .replaceAll("QueryStage \\d+", "QueryStage")
    .replaceAll("\\*\\(\\d+\\)", "*")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Sessions.create("local[2]", "spark.sql.shuffle.partitions" -> "4")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.all.sortBy(_.name).filter(q => only.isEmpty || only(q.name)).foreach { q =>
      Memos.clearAll()
      val text =
        try normalize(q.plan(spark, sfDir).queryExecution.optimizedPlan.toString)
        catch { case e: Throwable => s"ERROR ${e.getClass.getName}: ${e.getMessage}" }
      Files.writeString(Paths.get(outDir, q.name + ".plan"), text)
    }
    spark.stop()
  }
}
