package graft

import java.nio.file.{Files, Path}
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat, countDistinct, lit, rand,
  sum}
import org.apache.spark.sql.graftbridge.{ShuffleProbe, StoredBroadcast,
  StoredShuffle}
import graft.engine.{Memos, Sessions, Tables}

/** What the specs of `ExchangeReuseStrategy` share: registry calls,
  * hit/miss counting, cold stores and the stored entries by kind. */
trait ExchangeReuseFixtures extends SparkSpecBase {

  def run(name: String, s: SparkSession = spark, d: String = sfDir)
      : Seq[Row] = SparkEntry.queries(name)(s, d).collect().toSeq

  /** Hits and misses `body` added. */
  def lookups(body: => Any): (Long, Long) = {
    val (h, m) = (Memos.exchangeHits.get(), Memos.exchangeMisses.get())
    body
    (Memos.exchangeHits.get() - h, Memos.exchangeMisses.get() - m)
  }

  /** Cleared memos with every fixture table resolved again, so a call
    * starts only its own jobs and its exchanges are misses. */
  def coldExchanges(d: String = sfDir): Unit = {
    Memos.clearAll()
    Tables.allNames.foreach(t => Tables.tbl(spark, d, t))
  }

  def broadcastsOf(s: SparkSession): Seq[StoredBroadcast] =
    Memos.exchangesOf(s).map(_.value).collect { case b: StoredBroadcast => b }

  def shufflesOf(s: SparkSession): Seq[StoredShuffle] =
    Memos.exchangesOf(s).map(_.value).collect { case x: StoredShuffle => x }

  def shuffleIds(s: SparkSession): Seq[Int] = shufflesOf(s).map(_.dep.shuffleId)

  /** The ids of the shuffles that `x`'s map stage reads. */
  def reads(x: StoredShuffle): Seq[Int] = {
    def below(r: RDD[_]): Seq[Int] = r.dependencies.flatMap {
      case d: ShuffleDependency[_, _, _] => Seq(d.shuffleId)
      case d => below(d.rdd)
    }
    below(x.dep.rdd)
  }

  def copyTree(from: Path, to: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(from).iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    }
  }
}

/** Shuffle map outputs are reused across calls (`ExchangeReuseStrategy`'s
  * shuffle case, below an aggregate or a global sort): keyed on the
  * canonical exchange and the fingerprint of the files its subtree
  * read, replaced when those files change, never kept for an input that
  * is not files through deterministic operators, dropped by
  * `Memos.clearAll` and handed to the `ContextCleaner`, and safe to
  * evict or lose while a query still needs them. The broadcast cases
  * are `BroadcastReuseSpec` (a)–(f). */
class ExchangeReuseSpec extends ExchangeReuseFixtures {

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("(g) warm q1 and q6 serve their stored shuffles and start fewer jobs") {
    // measured at sf0.001, local[4]: a warm call starts only its result
    // job (q1 skips the aggregate's map stage and its sort's sampling
    // and map jobs, q6 its aggregate's map stage)
    for ((q, cold, warm) <- Seq(("q_tpch_q1", 4, 1), ("q_tpch_q6", 2, 1))) {
      coldExchanges()
      val (rows1, jobs1) = jobsOf(run(q))
      val ((rows2, jobs2), (hits, _)) = {
        var r: (Seq[Row], Int) = null
        val l = lookups { r = jobsOf(run(q)) }
        (r, l)
      }
      assert(rows2 == rows1, q)
      assert(hits > 0, s"$q: the warm call served no stored shuffle")
      assert((jobs1, jobs2) == ((cold, warm)), s"$q jobs (cold, warm)")
    }
    Memos.clearAll()
  }

  test("(p) warm q_apriori_pairs serves its stacked shuffles") {
    // measured at sf0.001, local[4]: the pair count's shuffle sits above
    // the doc_id aggregate's shuffle stage, and the sort's range shuffle
    // above the pair count's; a warm call starts only its result job
    coldExchanges()
    val (rows1, cold) = jobsOf(run("q_apriori_pairs"))
    var warm: (Seq[Row], Int) = null
    val (hits, misses) = lookups { warm = jobsOf(run("q_apriori_pairs")) }
    assert(warm._1 == rows1)
    assert(hits == 3 && misses == 0, s"$hits hit(s), $misses miss(es)")
    assert((cold, warm._2) == ((5, 1)), "jobs (cold, warm)")
    Memos.clearAll()
  }

  test("(h) a rewritten lineitem is read back with its new rows, and its " +
      "entry is replaced rather than added") {
    val dir = Files.createTempDirectory("graft_shuffle_stale")
    try {
      for (t <- Tables.allNames) copyTree(Path.of(sfDir, s"$t.parquet"),
        dir.resolve(s"$t.parquet"))
      val d = dir.toString
      coldExchanges(d)
      val before = run("q_tpch_q1", d = d)
      assert(run("q_tpch_q1", d = d) == before)
      val stored = shuffleIds(spark)
      assert(stored.nonEmpty)
      val li = Tables.lineitem(spark, d)
      val bumped = li.withColumn("l_quantity", col("l_quantity") + 1)
        .select(li.columns.map(col).toSeq: _*).collect()
      spark.createDataFrame(spark.sparkContext.parallelize(bumped.toSeq, 1),
          li.schema)
        .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      val after = run("q_tpch_q1", d = d)
      assert(after != before, "the rewrite must change q1's rows")
      assert(after == run("q_tpch_q1", spark.newSession(), d),
        "the call must equal a fresh session's result")
      val replaced = shuffleIds(spark)
      assert(replaced.size == stored.size && replaced.intersect(stored).isEmpty,
        s"entries before the rewrite $stored, after $replaced")
    } finally {
      Memos.clearAll()
      deleteRecursively(dir)
    }
  }

  test("(i) a checkpointed, cached or rand() input stores nothing, and " +
      "neither does a count(DISTINCT ...) aggregate") {
    Memos.clearAll()
    val li = Tables.lineitem(spark, sfDir)
    def summed(in: DataFrame): DataFrame =
      in.groupBy("l_returnflag").agg(sum("l_quantity").as("q"))
    val expected = sorted(summed(li).collect().toSeq)
    Memos.clearAll()
    val cached = li.cache()
    try {
      for ((what, df) <- Seq("checkpointed" -> summed(li.localCheckpoint()),
          "cached" -> summed(cached),
          "random" -> summed(li.where(rand(7) >= 0)))) {
        assert(sorted(df.collect().toSeq) == expected, what)
        assert(sorted(df.collect().toSeq) == expected, what)
      }
      val distinct = li.groupBy("l_returnflag").agg(countDistinct("l_suppkey"))
      assert(sorted(distinct.collect().toSeq) == sorted(distinct.collect().toSeq))
      assert(shufflesOf(spark).isEmpty, s"stored ${shufflesOf(spark).size}")
    } finally cached.unpersist(blocking = true)
  }

  test("(j) clearAll unregisters the stored shuffles from the map-output " +
      "tracker; sessions never share entries") {
    coldExchanges()
    val expected = run("q_tpch_q1")
    val sc = spark.sparkContext
    val ids = shuffleIds(spark)
    assert(ids.nonEmpty && ids.forall(ShuffleProbe.registered(sc, _)))
    val other = spark.newSession()
    val (hits, misses) = lookups(assert(run("q_tpch_q1", other) == expected))
    assert(hits == 0 && misses > 0, s"another session hit $hits time(s)")
    assert(shuffleIds(other).nonEmpty && shuffleIds(other).intersect(ids).isEmpty)
    Memos.clearAll()
    assert(shufflesOf(spark).isEmpty && shufflesOf(other).isEmpty)
    // the ContextCleaner unregisters a dropped shuffle once no plan
    // holds its dependency any more
    val deadline = System.nanoTime() + 60000000000L
    while (ids.exists(ShuffleProbe.registered(sc, _)) &&
        System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(!ids.exists(ShuffleProbe.registered(sc, _)),
      s"still registered: ${ids.filter(ShuffleProbe.registered(sc, _))}")
  }

  test("(k) with AQE off a hit returns the same rows") {
    val rows = Seq("q_tpch_q1", "q_tpch_q6")
    val expected = rows.map(q => run(q))
    Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      coldExchanges()
      assert(rows.map(q => run(q)) == expected)
      assert(shufflesOf(spark).nonEmpty)
      val (hits, misses) = lookups(assert(rows.map(q => run(q)) == expected))
      assert(hits > 0 && misses == 0, s"$hits hit(s), $misses miss(es)")
    }
    Memos.clearAll()
  }

  test("(l) under a 1-byte budget, eviction mid-query leaves the rows correct") {
    val rows = Seq("q_tpch_q1", "q_tpch_q6", "q_tpch_q3", "q_tpch_q5")
    val expected = rows.map(q => run(q))
    for (aqe <- Seq("true", "false"))
      Sessions.withConf(spark, Memos.BudgetConf -> "1",
          Memos.MinResidentConf -> "0", "spark.sql.adaptive.enabled" -> aqe) {
        coldExchanges()
        val before = Memos.evictions.get()
        assert(rows.map(q => run(q)) == expected, s"AQE $aqe, first calls")
        assert(rows.map(q => run(q)) == expected, s"AQE $aqe, second calls")
        assert(Memos.evictions.get() > before, s"AQE $aqe: nothing evicted")
      }
    // stacked: q_apriori_pairs sorts (a range shuffle) the pair counts
    // (a hash shuffle) of per-document token sets (another one); the
    // last exchange it keeps, the range shuffle, evicts both below it,
    // and at the default budget the next call rebuilds those and is
    // served the range shuffle above them
    val pairs = run("q_apriori_pairs")
    Sessions.withConf(spark, Memos.BudgetConf -> "1",
        Memos.MinResidentConf -> "0") {
      coldExchanges()
      assert(run("q_apriori_pairs") == pairs)
    }
    val upper = shufflesOf(spark)
    assert(upper.size == 1 && reads(upper.head).nonEmpty &&
      Memos.exchangesOf(spark).size == 1, "only the range shuffle stays")
    val (hits, _) = lookups(assert(run("q_apriori_pairs") == pairs))
    assert(hits > 0 && shuffleIds(spark).contains(upper.head.dep.shuffleId),
      "the range shuffle must be served over the rebuilt exchanges")
    Memos.clearAll()
  }

  test("(m) stored map outputs lost between two calls are recomputed " +
      "from lineage") {
    coldExchanges()
    val expected = run("q_tpch_q1")
    val sc = spark.sparkContext
    val ids = shuffleIds(spark)
    assert(ids.nonEmpty)
    ids.foreach(ShuffleProbe.loseOutputs(sc, _))
    assert(ids.forall(ShuffleProbe.availableOutputs(sc, _) == 0))
    val (hits, _) = lookups(assert(run("q_tpch_q1") == expected))
    assert(hits > 0, "the stored dependency must still be served")
    assert(ids.forall(ShuffleProbe.availableOutputs(sc, _) > 0),
      "the served shuffle's outputs must be recomputed under its own id")
    // stacked: q_apriori_pairs' range shuffle reads its pair count's
    // shuffle, which reads its token sets' shuffle; lose the lower
    // outputs, then all of them
    coldExchanges()
    val pairs = run("q_apriori_pairs")
    val read = shufflesOf(spark).flatMap(reads).toSet
    val (lower, upper) = shufflesOf(spark).partition(x => read(x.dep.shuffleId))
    assert(upper.size == 1 && lower.size == 2)
    lower.foreach(x => ShuffleProbe.loseOutputs(sc, x.dep.shuffleId))
    val (lowerLost, _) = lookups(assert(run("q_apriori_pairs") == pairs))
    assert(lowerLost > 0, "the stacked shuffles must still be served")
    val stacked = shuffleIds(spark)
    stacked.foreach(ShuffleProbe.loseOutputs(sc, _))
    val (allLost, _) = lookups(assert(run("q_apriori_pairs") == pairs))
    assert(allLost > 0 && shuffleIds(spark) == stacked &&
      stacked.forall(ShuffleProbe.availableOutputs(sc, _) > 0),
      "the stacked shuffles must be recomputed under their own ids")
    Memos.clearAll()
  }

  test("(n) with shuffle file cleanup on, nothing is stored") {
    // the conf applies to writes: their query deletes its shuffle files
    // at its end
    val out = Files.createTempDirectory("graft_shuffle_cleanup")
    def write(): Unit = SparkEntry.queries("q_tpch_q1")(spark, sfDir)
      .write.mode("overwrite").parquet(out.toString)
    try {
      val key = "spark.sql.classic.shuffleDependency.fileCleanup.enabled"
      for (cleanup <- Seq("true", "false"))
        Sessions.withConf(spark, key -> cleanup) {
          coldExchanges()
          write()
          write()
          val stored = shufflesOf(spark).size
          assert((stored == 0) == (cleanup == "true"),
            s"cleanup $cleanup: stored $stored")
          assert(spark.read.parquet(out.toString).count() ==
            run("q_tpch_q1").size)
        }
    } finally {
      Memos.clearAll()
      deleteRecursively(out)
    }
  }

  test("(o) a stacked exchange misses when a table below it changes: q5 " +
      "after a rewrite of nation (read only through a broadcast stage), " +
      "q3 after one of lineitem") {
    val dir = Files.createTempDirectory("graft_stacked_stale")
    try {
      for (t <- Tables.allNames) copyTree(Path.of(sfDir, s"$t.parquet"),
        dir.resolve(s"$t.parquet"))
      val d = dir.toString
      def rewrite(t: String)(f: DataFrame => DataFrame): Unit = {
        val old = Tables.tbl(spark, d, t)
        val rows = f(old).collect()
        spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
            old.schema)
          .write.mode("overwrite").parquet(s"$d/$t.parquet")
      }
      for ((q, t, f) <- Seq[(String, String, DataFrame => DataFrame)](
          ("q_tpch_q5", "nation",
            _.withColumn("n_name", concat(col("n_name"), lit("_v2")))),
          ("q_tpch_q3", "lineitem", _.where(col("l_linenumber") =!= 1)))) {
        coldExchanges(d)
        val before = run(q, d = d)
        assert(run(q, d = d) == before)
        val stored = shuffleIds(spark)
        rewrite(t)(f)
        var after: Seq[Row] = Nil
        val (hits, misses) = lookups { after = run(q, d = d) }
        assert(after != before, s"the rewrite of $t must change $q's rows")
        assert(after == run(q, spark.newSession(), d),
          s"$q must equal a fresh session's result")
        val replaced = shuffleIds(spark)
        assert(stored.nonEmpty && replaced.size == stored.size &&
          replaced.intersect(stored).isEmpty,
          s"$q: shuffles before the rewrite $stored, after $replaced")
        assert(hits > 0 && misses >= stored.size, s"$q: $hits hit(s), " +
          s"$misses miss(es); the broadcasts over other tables are served")
      }
    } finally {
      Memos.clearAll()
      deleteRecursively(dir)
    }
  }
}
