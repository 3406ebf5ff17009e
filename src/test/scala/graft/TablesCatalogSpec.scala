package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.engine.{Memos, Tables}

/** The per-session table catalog behind `Tables.tbl`: a table's schema
  * is inferred once per session and re-inferred only when its files
  * change (fingerprint: sorted path, length, modification time of
  * every listed file, nested partition files included). */
class TablesCatalogSpec extends SparkSpecBase {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def withDir(name: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft_catalog_$name").toString
    try body(dir) finally deleteRecursively(Paths.get(dir))
  }

  private def entry(s: SparkSession, dir: String, name: String): Option[Any] =
    Memos.stored[Any](s, dir, s"tables/$name")

  test("(a) a second tbl of an unchanged table starts no Spark job and returns the same rows") {
    withDir("a") { dir =>
      Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
      val (first, inferJobs) = jobsOf(Tables.tbl(spark, dir, "t"))
      assert(inferJobs > 0, "the first read must infer the schema")
      val (second, jobsAgain) = jobsOf(Tables.tbl(spark, dir, "t"))
      assert(jobsAgain == 0, s"a cached resolution started $jobsAgain job(s)")
      assert(second.schema == first.schema)
      assert(rows(second) == rows(first))
    }
  }

  test("(b) a file rewritten under the same path is read back with its new rows and schema") {
    withDir("b") { dir =>
      val path = s"$dir/t.parquet"
      Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(path)
      assert(rows(Tables.tbl(spark, dir, "t")) == Seq(Row(1L, "x"), Row(2L, "y")))
      Seq((3L, "z", 3.5)).toDF("id", "v", "w").write.mode("overwrite").parquet(path)
      val (df, reinfer) = jobsOf(Tables.tbl(spark, dir, "t"))
      assert(df.columns.toSeq == Seq("id", "v", "w"))
      assert(rows(df) == Seq(Row(3L, "z", 3.5)))
      assert(reinfer > 0, "a changed table must be inferred again")
      val (again, jobsAgain) = jobsOf(Tables.tbl(spark, dir, "t").schema)
      assert(jobsAgain == 0, "the replaced entry must serve the next read")
      assert(again == df.schema)
    }
  }

  test("(c) rewriting one partition of a partitioned table is detected") {
    withDir("c") { dir =>
      val path = s"$dir/t.parquet"
      Seq((1L, 10L, 1), (2L, 20L, 2), (3L, 30L, 3)).toDF("id", "v", "p")
        .write.partitionBy("p").parquet(path)
      assert(Tables.tbl(spark, dir, "t").where(col("p") === 2)
        .select("v").as[Long].collect().toSeq == Seq(20L))
      Seq((2L, 99L), (4L, 98L)).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$path/p=2")
      val (df, reinfer) = jobsOf(Tables.tbl(spark, dir, "t"))
      assert(reinfer > 0, "a rewritten partition must change the fingerprint")
      assert(df.columns.toSeq == Seq("id", "v", "p"))
      assert(rows(df) == Seq(Row(1L, 10L, 1), Row(2L, 99L, 2), Row(3L, 30L, 3),
        Row(4L, 98L, 2)).sortBy(_.toString))
    }
  }

  test("(d) Memos.clearAll drops the catalog entry") {
    withDir("d") { dir =>
      Seq(1L, 2L).toDF("id").write.parquet(s"$dir/t.parquet")
      Tables.tbl(spark, dir, "t")
      assert(entry(spark, dir, "t").isDefined)
      Memos.clearAll()
      assert(entry(spark, dir, "t").isEmpty)
      val (df, reinfer) = jobsOf(Tables.tbl(spark, dir, "t"))
      assert(reinfer > 0, "after clearAll the table must be inferred again")
      assert(rows(df) == Seq(Row(1L), Row(2L)))
    }
  }

  test("(e) two sessions never share an entry") {
    withDir("e") { dir =>
      Seq(1L, 2L).toDF("id").write.parquet(s"$dir/t.parquet")
      Tables.tbl(spark, dir, "t")
      val other = spark.newSession()
      assert(entry(other, dir, "t").isEmpty)
      val (df, reinfer) = jobsOf(Tables.tbl(other, dir, "t"), other)
      assert(reinfer > 0, "a new session must infer on its own first read")
      assert(rows(df) == Seq(Row(1L), Row(2L)))
      assert(entry(other, dir, "t").isDefined)
    }
  }

  test("events: the ts unit sniff runs once per fingerprint, not once per call") {
    withDir("events") { dir =>
      val us = java.time.Instant.parse("2024-01-05T12:00:00Z").toEpochMilli * 1000L
      Seq((1L, us / 1000L, 7L, "click", 1.0, "{}")) // epoch millis
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val (first, sniffJobs) = jobsOf(Tables.events(spark, dir))
      assert(sniffJobs >= 2, "schema inference plus the one-row unit sample")
      val (second, jobsAgain) = jobsOf(Tables.events(spark, dir))
      assert(jobsAgain == 0, s"a cached events read started $jobsAgain job(s)")
      assert(second.schema == first.schema)
      assert(second.select("ts").head().getTimestamp(0).toInstant ==
        java.time.Instant.parse("2024-01-05T12:00:00Z"))
    }
  }

  test("runSql: a frame keeps reading its own dir after a later call re-points the view") {
    withDir("sqlA") { a =>
      withDir("sqlB") { b =>
        Seq((0L, "A")).toDF("r_regionkey", "r_name").write.parquet(s"$a/region.parquet")
        Seq((0L, "B")).toDF("r_regionkey", "r_name").write.parquet(s"$b/region.parquet")
        val q = "SELECT r_name FROM region"
        val fromA = Tables.runSql(spark, a, q)
        val fromB = Tables.runSql(spark, b, q)
        assert(fromA.as[String].collect().toSeq == Seq("A"))
        assert(fromB.as[String].collect().toSeq == Seq("B"))
      }
    }
  }
}
