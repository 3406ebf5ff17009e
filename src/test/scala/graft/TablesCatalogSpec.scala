package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.engine.{Memos, Tables}
import scala.jdk.CollectionConverters._

/** The per-session table catalog behind `Tables.tbl`: a table's schema
  * is inferred once per session and re-inferred only when its files
  * change (fingerprint: sorted path, length, modification time of
  * every listed file, nested partition files included); a hit reuses
  * the stored relation. And `Tables.runSql`, which binds the tables a
  * SQL text names without temp views. */
class TablesCatalogSpec extends SparkSpecBase {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def withDir(name: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft_catalog_$name").toString
    try body(dir) finally deleteRecursively(Paths.get(dir))
  }

  private def entry(s: SparkSession, dir: String, name: String): Option[AnyRef] =
    Memos.stored[AnyRef](s, dir, s"tables/$name")

  /** The files the file index under `df`'s plan listed. */
  private def indexFiles(df: DataFrame): Seq[(String, Long, Long)] =
    Bridge.analyzed(df).collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .flatMap(Tables.listed).get

  /** `body`'s result and the number of SQL executions it ran on `spark`
    * (queries and commands alike). */
  private def executionsOf[T](body: => T): (T, Int) = {
    val n = new AtomicInteger(0)
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        n.incrementAndGet(); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
        n.incrementAndGet(); ()
      }
    }
    Bridge.drainListenerBus(spark, 10000L)
    spark.listenerManager.register(l)
    try {
      val r = body
      Bridge.drainListenerBus(spark, 10000L)
      (r, n.get())
    } finally spark.listenerManager.unregister(l)
  }

  /** Write table `t` under a temp dir, resolve it, `rewrite` it in place
    * and resolve it again. The second call must miss, equal a fresh
    * session's read and replace the entry; every hit's listing must
    * equal the stored index's; the frame built before the rewrite must
    * keep its own file list. `oldFrame` checks that frame's rows. */
  private def staleness(name: String)(write: String => Unit)(
      rewrite: String => Unit)(oldFrame: (DataFrame, Seq[Row]) => Unit): Unit =
    withDir(name) { dir =>
      val path = s"$dir/t.parquet"
      write(path)
      val before = Tables.tbl(spark, dir, "t")
      val oldRows = rows(before)
      val oldFiles = indexFiles(before)
      val oldEntry = entry(spark, dir, "t").get
      val (hit, hitJobs) = jobsOf(Tables.tbl(spark, dir, "t"))
      assert(hitJobs == 0 && entry(spark, dir, "t").get.eq(oldEntry))
      assert(Tables.listing(spark, path).contains(indexFiles(hit)))
      assert(indexFiles(hit) == oldFiles)

      rewrite(path)
      val (after, missJobs) = jobsOf(Tables.tbl(spark, dir, "t"))
      assert(missJobs > 0, "a rewritten table must be inferred again")
      val newEntry = entry(spark, dir, "t").get
      assert(newEntry.ne(oldEntry), "the miss must replace the entry")
      val expected = rows(Tables.tbl(spark.newSession(), dir, "t"))
      assert(rows(after) == expected)
      assert(expected != oldRows)

      val (again, jobsAgain) = jobsOf(Tables.tbl(spark, dir, "t"))
      assert(jobsAgain == 0 && entry(spark, dir, "t").get.eq(newEntry))
      assert(Tables.listing(spark, path).contains(indexFiles(again)))
      assert(rows(again) == expected)

      assert(indexFiles(before) == oldFiles, "an earlier frame was re-listed")
      oldFrame(before, oldRows)
    }

  /** An earlier frame whose files were deleted by the rewrite fails on
    * them instead of reading the new ones. */
  private def readsNoNewFiles(before: DataFrame, oldRows: Seq[Row]): Unit = {
    intercept[org.apache.spark.SparkException](before.collect())
    ()
  }

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

  test("stale (1): a rewrite with the same file count misses and replaces the entry") {
    staleness("same_count") { path =>
      Seq((1L, "x"), (2L, "y")).toDF("id", "v").coalesce(1).write.parquet(path)
    } { path =>
      Seq((1L, "x"), (2L, "z")).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(path)
      assert(Files.list(Paths.get(path)).iterator().asScala
        .count(_.getFileName.toString.startsWith("part-")) == 1)
    }(readsNoNewFiles)
  }

  test("stale (2): an appended part file misses; an earlier frame keeps its rows") {
    staleness("append") { path =>
      Seq((1L, "x"), (2L, "y")).toDF("id", "v").coalesce(1).write.parquet(path)
    } { path =>
      Seq((3L, "z")).toDF("id", "v").coalesce(1).write.mode("append").parquet(path)
    } { (before, oldRows) => assert(rows(before) == oldRows) }
  }

  test("stale (3): a partition rewritten by mergeIntoPartitioned misses") {
    staleness("partitioned") { path =>
      Seq((1L, 10L, 1), (2L, 20L, 2), (3L, 30L, 3)).toDF("id", "v", "p")
        .write.partitionBy("p").parquet(path)
    } { path =>
      Graft.mergeIntoPartitioned(spark, path,
        Seq((4L, 40L, 2)).toDF("id", "v", "p"), Seq("id"), "p")
    }(readsNoNewFiles)
  }

  test("runSql: a CTE named like a fixture table is what the text reads") {
    val cte = "WITH orders AS (SELECT 7L AS o_orderkey) SELECT o_orderkey FROM orders"
    assert(Tables.runSql(spark, sfDir, cte).as[Long].collect().toSeq == Seq(7L))
    assert(Tables.namedIn(spark, cte).isEmpty)
    // a non-recursive CTE's own body still reads the table of its name
    val shadow = """WITH orders AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
                    SELECT n FROM orders"""
    assert(Tables.runSql(spark, sfDir, shadow).as[Long].collect().toSeq ==
      Seq(Tables.orders(spark, sfDir).count()))
    assert(Tables.namedIn(spark, shadow) == Seq("orders"))
    // and an IN subquery under the WITH sees the CTE, not the table
    val sub = """WITH nation AS (SELECT 0L AS n_nationkey)
                 SELECT CAST(count(*) AS BIGINT) FROM customer
                 WHERE c_nationkey IN (SELECT n_nationkey FROM nation)"""
    assert(Tables.runSql(spark, sfDir, sub).as[Long].head() ==
      Tables.customer(spark, sfDir).where(col("c_nationkey") === 0).count())
    assert(Tables.namedIn(spark, sub) == Seq("customer"))
  }

  test("runSql: tables named more than once, and a recursive CTE, equal the view-based result") {
    for (q <- Seq("q_tpch_q7", "q_tpch_q8", "q_tpch_q21", "q_sql_recursive_cte")) {
      val text = SparkEntry.oracleSql(q)
      val viewed = spark.newSession()
      Tables.namedIn(viewed, text)
        .foreach(t => Tables.tbl(viewed, sfDir, t).createOrReplaceTempView(t))
      val expected = viewed.sql(text).collect().toSeq
      assert(expected.nonEmpty, s"$q is empty at $sfDir")
      assert(SparkEntry.queries(q)(spark, sfDir).collect().toSeq == expected, q)
    }
  }

  test("runSql: a warm call is one SQL execution (TPC-H q3, q5 and the SQL UDF row)") {
    for (q <- Seq("q_tpch_q3", "q_tpch_q5", "q_fn_sql_udf")) {
      val cold = SparkEntry.queries(q)(spark, sfDir).collect().toSeq
      val (warm, executions) =
        executionsOf(SparkEntry.queries(q)(spark, sfDir).collect().toSeq)
      assert(warm == cold, q)
      assert(executions == 1, s"$q: a warm call ran $executions SQL executions")
    }
  }
}
