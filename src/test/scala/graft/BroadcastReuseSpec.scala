package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, concat, lit, rand}
import graft.engine.{Memos, Sessions, Tables}

/** Built broadcast relations are reused across calls
  * (`ExchangeReuseStrategy`'s broadcast case): keyed on the canonical
  * build plan and the fingerprint of the files it read, dropped by
  * `Memos.clearAll`, never shared between sessions, never kept for a
  * build side that is not files through deterministic operators, and
  * safe to evict while the query that stored them still runs. */
class BroadcastReuseSpec extends ExchangeReuseFixtures {

  test("(a) a second TPC-H call serves its broadcasts and starts fewer jobs") {
    // measured at sf0.001, local[4]: the second call starts no
    // broadcast job (q3 builds 2 relations, q5 builds 5), and its
    // aggregate's and sort's shuffles above them are served too
    for ((q, first, second) <- Seq(("q_tpch_q3", 4, 1), ("q_tpch_q5", 7, 1))) {
      coldExchanges()
      val (rows1, jobs1) = jobsOf(run(q))
      val (rows2, jobs2) = jobsOf(run(q))
      assert(rows2 == rows1, q)
      assert((jobs1, jobs2) == ((first, second)), s"$q jobs (first, second)")
    }
    Memos.clearAll()
  }

  test("(b) a rewritten dimension table is never served from a stale broadcast") {
    val dir = Files.createTempDirectory("graft_bcast_stale")
    try {
      for (t <- Tables.allNames) copyTree(Path.of(sfDir, s"$t.parquet"),
        dir.resolve(s"$t.parquet"))
      val d = dir.toString
      coldExchanges(d)
      val before = run("q_tpch_q5", d = d)
      assert(run("q_tpch_q5", d = d) == before)
      val renamed = Tables.nation(spark, d)
        .withColumn("n_name", concat(col("n_name"), lit("_v2"))).collect()
      spark.createDataFrame(spark.sparkContext.parallelize(renamed.toSeq, 1),
          Tables.nation(spark, d).schema)
        .write.mode("overwrite").parquet(s"$d/nation.parquet")
      val after = run("q_tpch_q5", d = d)
      assert(after != before, "the rewrite must change q5's rows")
      assert(after == run("q_tpch_q5", spark.newSession(), d),
        "the second call must equal a fresh session's result")
    } finally {
      Memos.clearAll()
      deleteRecursively(dir)
    }
  }

  test("(c) a checkpointed or nondeterministic build side stores nothing") {
    Memos.clearAll()
    val cust = Tables.customer(spark, sfDir)
    val nation = Tables.nation(spark, sfDir)
    def joined(build: DataFrame): DataFrame =
      cust.join(broadcast(build), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").count().orderBy("n_name")
    val expected = joined(nation).collect().toSeq
    Memos.clearAll()
    val checkpointed = joined(nation.localCheckpoint())
    // rand() * 0 adds 0 to each key: same rows, nondeterministic plan
    val random = joined(nation.withColumn("n_nationkey",
      col("n_nationkey") + (rand(7) * 0).cast("int")))
    for ((what, df) <- Seq("checkpointed" -> checkpointed, "random" -> random)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") &&
        !plan.contains("ReusableBroadcastExchange"), s"$what:\n$plan")
      assert(df.collect().toSeq == expected)
      assert(df.collect().toSeq == expected)
    }
    assert(broadcastsOf(spark).isEmpty)
  }

  test("(d) clearAll drops every entry; sessions never share entries") {
    coldExchanges()
    run("q_tpch_q3")
    assert(broadcastsOf(spark).nonEmpty)
    val other = spark.newSession()
    val expected = run("q_tpch_q3")
    val (hits, misses) = lookups(assert(run("q_tpch_q3", other) == expected))
    assert(hits == 0 && misses > 0, s"another session hit $hits time(s)")
    assert(broadcastsOf(other).nonEmpty)
    Memos.clearAll()
    assert(broadcastsOf(spark).isEmpty && broadcastsOf(other).isEmpty)
  }

  test("(e) with AQE off results are equal and hits still happen") {
    val expected = Seq("q_tpch_q3", "q_tpch_q5").map(q => run(q))
    Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      coldExchanges()
      assert(Seq("q_tpch_q3", "q_tpch_q5").map(q => run(q)) == expected)
      val (hits, misses) = lookups(
        assert(Seq("q_tpch_q3", "q_tpch_q5").map(q => run(q)) == expected))
      assert(hits > 0 && misses == 0, s"$hits hit(s), $misses miss(es)")
    }
    Memos.clearAll()
  }

  test("(f) an entry evicted while its query runs: the query completes, " +
      "the next call rebuilds it") {
    val expected = run("q_tpch_q5")
    Sessions.withConf(spark, Memos.BudgetConf -> "1",
        Memos.MinResidentConf -> "0") {
      coldExchanges()
      val before = Memos.evictions.get()
      assert(run("q_tpch_q5") == expected)
      assert(Memos.evictions.get() - before >= 4,
        "each stored relation must evict the one stored before it")
      // the last exchange q5 keeps is its aggregate's shuffle
      assert(Memos.exchangesOf(spark).size == 1)
      val (_, misses) = lookups(assert(run("q_tpch_q5") == expected))
      assert(misses >= 4, s"only $misses rebuild(s) after the evictions")
    }
    Memos.clearAll()
  }
}
