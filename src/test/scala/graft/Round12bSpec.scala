package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.ops.Aggs
import graft.text.Dedup

/** Round-12 second batch (SURVEY §2 rows 189-192): each row checked
  * against an independent derivation — the SQL front-end against the
  * DataFrame-API build of the same plan, the sketch rollup against
  * exact distincts, and both signed-incremental rows against their
  * batch recomputes over the post-delta inputs. */
class Round12bSpec extends SparkSpecBase {

  test("q_sql_text_frontend == the DataFrame-API build of the same query") {
    val got = SparkEntry.queries("q_sql_text_frontend")(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val cut = lit("1997-06-30 00:00:00").cast("timestamp")
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount")).cast("decimal(8,4)")
    val api = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment") === "BUILDING" &&
        col("o_orderdate") < cut && col("l_shipdate") > cut)
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(rev).cast("decimal(18,4)").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
    val (g, a) = (got.collect().toSeq, api.collect().toSeq)
    assert(g == a, s"SQL text result differs from the API build")
    assert(g.nonEmpty, "frontend query returned no rows — cut is degenerate")
  }

  test("q_agg_sketch_union: estimates within 5% of exact, served from stored sketches") {
    val got = SparkEntry.queries("q_agg_sketch_union")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val ev = Tables.events(spark, sfDir)
    val exactAll = ev.select("user_id").distinct().count()
    val exactDays = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count_distinct(col("user_id")).as("n"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(got.size == exactDays.size + 1, "one row per day plus ALL")
    def close(est: Long, exact: Long): Boolean =
      math.abs(est - exact).toDouble <= math.max(1.0, 0.05 * exact)
    assert(close(got("ALL"), exactAll),
      s"ALL estimate ${got("ALL")} vs exact $exactAll")
    exactDays.foreach { case (day, exact) =>
      assert(close(got(day), exact), s"day $day: ${got(day)} vs $exact")
    }
    // determinism of the stored-sketch serve: second invocation equal
    val again = SparkEntry.queries("q_agg_sketch_union")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(again == got)
  }

  test("q_incr_chunks == batch chunker over the post-delta corpus") {
    val got = SparkEntry.queries("q_incr_chunks")(spark, sfDir)
    val post = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 1)
    val batch = Dedup.chunkDupGroups(post, "doc_id", "text", 16)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "maintained chunk groups differ from the batch recompute")
    assert(got.count() > 0, "no duplicate chunks in the post-delta corpus")
  }

  test("q_incr_profile == batch profile over the post-delta table") {
    val got = SparkEntry.queries("q_incr_profile")(spark, sfDir)
    val post = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 10 =!= 1)
    val batch = Aggs.profileStats(post,
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "state-derived profile differs from the batch profile")
  }

  test("q_stream_dedup: duplicated landing erased — sink == closed windows of distinct events") {
    val got = SparkEntry.queries("q_stream_dedup")(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    val mx = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val batch = ev.groupBy(to_date(col("ts")).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("day").cast("timestamp") + expr("INTERVAL 1 DAY")
        <= lit(mx) - expr("INTERVAL 10 MINUTES"))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "dedup sink differs from the closed-window set of distinct events")
    // the at-least-once landing really contains every file twice
    val src = new java.io.File(
      s"${sys.props("java.io.tmpdir")}").listFiles()
      .filter(f => f.getName.startsWith("graft_streamops_") &&
        f.getName.endsWith(spark.sparkContext.applicationId))
      .map(f => new java.io.File(f, "sdedup/src")).find(_.exists())
    assert(src.isDefined, "dedup landing dir not found")
    val names = src.get.listFiles().map(_.getName)
      .filter(_.endsWith(".parquet"))
    assert(names.count(_.startsWith("dupa_")) == 4 &&
      names.count(_.startsWith("dupb_")) == 4,
      s"expected 4 originals + 4 duplicates, got ${names.toSeq}")
  }

  test("q_graph_hits == in-JVM HITS path counts") {
    val edges = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val auth1 = edges.groupBy(_._2).map { case (s, xs) => (s, xs.size.toLong) }
    val hub1 = edges.groupBy(_._1).map { case (p, xs) =>
      (p, xs.map(e => auth1(e._2)).sum)
    }
    val auth2 = edges.groupBy(_._2).map { case (s, xs) =>
      (s, xs.map(e => hub1(e._1)).sum)
    }
    val expected = auth2.toSeq.map { case (s, a2) => (s, auth1(s), a2) }
      .sortBy(t => (-t._3, t._1)).take(20)
    val got = SparkEntry.queries("q_graph_hits")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, "HITS path counts differ from the brute fold")
  }

  test("q_incr_median == Spark exact median over the post-delta table, bitwise") {
    val got = SparkEntry.queries("q_incr_median")(spark, sfDir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    val direct = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 =!= 1)
      .withColumn("cents",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), median(col("cents")).as("m"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got == direct,
      s"state-derived median differs from the engine median: $got vs $direct")
  }

  test("state-derived median == sorted-array median on random multisets") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(77)
    // random multiset with heavy ties, both parities across groups
    val rows = (0 until 501).map(i =>
      (if (i % 2 == 0) "even_grp" else "odd_grp", rnd.nextInt(20).toLong))
    val df = rows.toDF("g", "cents")
    val state = df.groupBy("g", "cents")
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("cents")
    val totals = state.groupBy("g").agg(sum("n").as("n_rows"))
    val cum = state.withColumn("cum", sum(col("n")).over(w))
      .join(totals, "g")
    def kth(k: org.apache.spark.sql.Column, a: String) =
      cum.filter(col("cum") >= k).groupBy("g").agg(min("cents").as(a))
    val got = kth(expr("(n_rows + 1) div 2"), "v1")
      .join(kth(expr("(n_rows + 2) div 2"), "v2"), "g")
      .select(col("g"), (col("v1").cast("double") +
        (col("v2") - col("v1")).cast("double") * 0.5).as("m"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val brute = rows.groupBy(_._1).map { case (g, xs) =>
      val v = xs.map(_._2).sorted.toIndexedSeq
      val m = if (v.size % 2 == 1) v(v.size / 2).toDouble
        else v(v.size / 2 - 1).toDouble +
          (v(v.size / 2) - v(v.size / 2 - 1)).toDouble * 0.5
      (g, m)
    }
    assert(got == brute, s"$got vs $brute")
  }

  test("q_join_null_aware_anti: NOT IN three-valued logic holds") {
    val byV = SparkEntry.queries("q_join_null_aware_anti")(spark, sfDir)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    // the null branch MUST be empty (x NOT IN (..., NULL) is never TRUE)
    assert(byV("with_null") == ((0L, 0L)),
      s"NULL in the subquery must empty the result: ${byV("with_null")}")
    // the no-null branch equals a plain anti join computed independently
    val li = Tables.lineitem(spark, sfDir)
    val excl = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") > 5000).select(col("s_suppkey"))
    val anti = li.join(excl, col("l_suppkey") === col("s_suppkey"),
      "left_anti")
    assert(byV("no_null") ==
      ((anti.count(), anti.select("l_suppkey").distinct().count())))
    assert(byV("no_null")._1 > 0, "no-null branch is vacuous")
  }

  test("q_source_text_lines == the same aggregate over the parquet original") {
    val got = SparkEntry.queries("q_source_text_lines")(spark, sfDir)
    val direct = Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"),
        min(col("n_name")).as("first_nation"),
        sum(col("n_nationkey")).as("key_sum"))
    assert(got.exceptAll(direct).isEmpty && direct.exceptAll(got).isEmpty,
      "text-line round-trip changed the aggregate")
  }

  test("q_win_session_native: events conserve and an exact-30min gap splits") {
    val got = SparkEntry.queries("q_win_session_native")(spark, sfDir)
    val total = got.agg(sum("n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sfDir).count(),
      "session rows do not conserve the event count")
    // boundary semantics (pins the q200 oracle's > convention): a gap
    // of EXACTLY the 30-min duration still merges (inclusive), one
    // microsecond more splits
    val sp = spark
    import sp.implicits._
    def sessionsOf(instants: Seq[String]): Int =
      instants.map(s => (1L, java.time.Instant.parse(s)))
        .toDF("user_id", "ts")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .count().collect().length
    assert(sessionsOf(Seq("2024-01-01T00:00:00Z",
      "2024-01-01T00:30:00Z")) == 1, "exact-gap events must merge")
    assert(sessionsOf(Seq("2024-01-01T00:00:00Z",
      "2024-01-01T00:30:00.000001Z")) == 2,
      "gap one microsecond over the duration must split")
  }

  test("valueCountState == from-scratch counts on random frames with random deltas") {
    val sp = spark
    import sp.implicits._
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed * 131)
      val all = (0 until 300).map(i =>
        (i.toLong, (rnd.nextInt(7) * 25).toDouble / 100.0))
      val (base, ins) = all.partition(_ => rnd.nextDouble() < 0.6)
      val del = base.filter(_ => rnd.nextDouble() < 0.3)
      val delIds = del.map(_._1).toSet
      def df(xs: Seq[(Long, Double)]) = xs.toDF("id", "x")
      val got = Aggs.valueCountState(df(base), df(ins), df(del), "x")
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
      val post = base.filterNot(r => delIds(r._1)) ++ ins
      val brute = post.groupBy(_._2).map { case (v, xs) => (v, xs.size.toLong) }
      assert(got == brute, s"seed=$seed: state != from-scratch value counts")
    }
  }
}
