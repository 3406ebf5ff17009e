package graft
import graft.engine.Sessions
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd+ args: dump only these queries (local preflight of
    // new operators; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val cpus = Sessions.localCores
    val spark = Sessions.create(s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus)
    new java.io.File(outDir).mkdirs()
    // Fixture-contract guard (VERDICT r9): if the driver regenerated
    // testdata with a ts layout the reader mis-sniffs, every
    // absolute-time query silently fails the oracle. Assert the
    // documented 2024 range HERE so the break is one loud line in the
    // verify log instead of 12 unexplained red rows.
    try {
      import org.apache.spark.sql.functions.{col, min, max}
      val mn = graft.engine.Tables.events(spark, sfDir)
        .agg(min(col("ts")), max(col("ts"))).head()
      val (lo, hi) = (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
                      java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
      if (mn.getTimestamp(0).before(lo) || !mn.getTimestamp(1).before(hi))
        System.err.println(s"[verify] FIXTURE-CONTRACT VIOLATION: events.ts " +
          s"range [${mn.getTimestamp(0)}, ${mn.getTimestamp(1)}] outside " +
          "documented 2024 range — Tables.events unit sniff is wrong for " +
          "this testdata; expect every absolute-time query to fail")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] fixture-contract check failed: ${e.getMessage}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
