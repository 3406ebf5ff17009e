package graft

import org.apache.spark.sql.functions._
import graft.ops.Aggs

/** Specs for SURVEY §2 rows 208-211 (Round12b batch 3): the bucketed
  * band self-join, the Count-Min sketch, the signed-incremental
  * constraint report, and contiguous event-pattern matching. */
class Round12eSpec extends SparkSpecBase {

  private val H = 900L * 1000000L

  test("q_join_band_time: bucketed equi-join ≡ naive theta join") {
    val got = SparkEntry.queries("q_join_band_time")(spark, sfDir)
    val ev = graft.engine.Tables.events(spark, sfDir).select(
      col("event_id"), col("event_type"), unix_micros(col("ts")).as("tsu"))
    val naive = ev.as("a").join(ev.as("b"),
        col("a.event_id") < col("b.event_id") &&
          abs(col("a.tsu") - col("b.tsu")) <= H)
      .groupBy(least(col("a.event_type"), col("b.event_type")).as("t1"),
        greatest(col("a.event_type"), col("b.event_type")).as("t2"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("a.tsu") - col("b.tsu"))).as("gap_us_sum"))
    assert(got.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(got).count() == 0)
    assert(got.count() > 0, "fixture must produce in-band pairs")
  }

  test("band join boundary: gap of exactly the band matches, +1us does not") {
    import spark.implicits._
    // three events: t0, t0 + exactly the band (inclusive edge), +1us over.
    // t0 sits just under a bucket boundary so the pair spans buckets.
    val t0 = H * 1000 - 1
    val ev = Seq((1L, "view", t0), (2L, "click", t0 + H),
        (3L, "purchase", t0 + H + 1))
      .toDF("event_id", "event_type", "tsu")
      .select(col("event_id"), col("event_type"),
        timestamp_micros(col("tsu")).as("ts"))
    val dir = java.nio.file.Files.createTempDirectory("band_spec")
    try {
      ev.write.mode("overwrite")
        .parquet(dir.resolve("events.parquet").toString)
      // run the declared query against the scratch fixture dir: it
      // reads ONLY events, so the other tables may be absent
      val out = SparkEntry.queries("q_join_band_time")(spark, dir.toString)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2))).toSet
      // pairs within the band: (1,2) exact edge, (2,3) 1us — NOT (1,3)
      assert(out == Set(("click", "view", 1L), ("click", "purchase", 1L)))
    } finally deleteRecursively(dir)
  }

  test("q_agg_countmin: never underestimates; bounded; top-10 exact keys") {
    val li = graft.engine.Tables.lineitem(spark, sfDir)
    val n = li.count()
    val cms = Aggs.cmsBuild(li, "l_partkey", 4, 1024)
    val truth = li.groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("true_n"))
    val est = Aggs.cmsEstimate(cms, truth, "k", 4, 1024)
      .join(truth, "k")
    assert(est.filter(col("est_n") < col("true_n")).count() == 0,
      "CMS must NEVER underestimate")
    assert(est.filter(col("est_n") > n).count() == 0,
      "no estimate can exceed the stream length")
    val declared = SparkEntry.queries("q_agg_countmin")(spark, sfDir)
      .collect()
    assert(declared.length == 10)
    declared.foreach(r =>
      assert(r.getAs[Long]("est_n") >= r.getAs[Long]("true_n")))
  }

  test("q_agg_countmin: counter-wise sum of part sketches ≡ union sketch") {
    val li = graft.engine.Tables.lineitem(spark, sfDir)
    val a = li.filter(col("l_orderkey") % 2 === 0)
    val b = li.filter(col("l_orderkey") % 2 === 1)
    val merged = Aggs.cmsBuild(a, "l_partkey", 4, 1024)
      .unionByName(Aggs.cmsBuild(b, "l_partkey", 4, 1024))
      .groupBy("row", "bucket").agg(sum(col("n")).as("n"))
    val whole = Aggs.cmsBuild(li, "l_partkey", 4, 1024)
    assert(merged.exceptAll(whole).count() == 0)
    assert(whole.exceptAll(merged).count() == 0)
  }

  test("q_incr_quality: maintenance ≡ batch recompute over post-delta") {
    val li = graft.engine.Tables.lineitem(spark, sfDir)
    val post = li.filter(col("l_orderkey") % 10 =!= 1)
    val ordKeys = graft.engine.Tables.orders(spark, sfDir)
      .select("o_orderkey")
    val n = post.count()
    val batch = Map(
      "li_quantity_le_30" ->
        post.filter(col("l_quantity") > 30).count(),
      "li_discount_le_008" ->
        post.filter(col("l_discount") < 0 || col("l_discount") > 0.08)
          .count(),
      "li_fk_orders" ->
        post.join(ordKeys, col("l_orderkey") === col("o_orderkey"),
          "left_anti").count())
    val got = SparkEntry.queries("q_incr_quality")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == batch.keySet)
    got.foreach { case (rule, (checked, viol)) =>
      assert(checked == n, s"$rule n_checked")
      assert(viol == batch(rule), s"$rule violations")
    }
  }

  test("q_events_pattern: synthetic timeline with known match placements") {
    import spark.implicits._
    // user 1: v c p v c p (two non-overlapping matches)
    // user 2: v c p at positions 2-4 (one match), v v c tail (none)
    // user 3: no full triple
    val rows = Seq(
      (1L, Seq("view", "click", "purchase", "view", "click", "purchase")),
      (2L, Seq("click", "error", "view", "click", "purchase", "view",
        "view", "click")),
      (3L, Seq("view", "click", "view", "purchase", "click")))
    val ev = rows.flatMap { case (u, types) =>
      types.zipWithIndex.map { case (t, i) =>
        (u * 1000 + i, t, u, H * 2000 + u * 100000000L + i * 1000000L)
      }
    }.toDF("event_id", "event_type", "user_id", "tsu")
      .select(col("event_id"), col("event_type"), col("user_id"),
        timestamp_micros(col("tsu")).as("ts"))
    val dir = java.nio.file.Files.createTempDirectory("pattern_spec")
    try {
      ev.write.mode("overwrite")
        .parquet(dir.resolve("events.parquet").toString)
      val out = SparkEntry.queries("q_events_pattern")(spark, dir.toString)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(1L -> 2L, 2L -> 1L))
    } finally deleteRecursively(dir)
  }

  test("q_events_pattern: fixture match count ≡ transition-chain recount") {
    // independent recount: contiguous triples via a self-computed
    // index join rather than two leads
    val ev = graft.engine.Tables.events(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val idx = ev.withColumn("i", row_number().over(w))
      .select(col("user_id"), col("i"), col("event_type"))
    val views = idx.filter(col("event_type") === "view")
      .select(col("user_id"), col("i"))
    val clicks = idx.filter(col("event_type") === "click")
      .select(col("user_id").as("u2"), col("i").as("i2"))
    val buys = idx.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u3"), col("i").as("i3"))
    val recount = views
      .join(clicks, col("user_id") === col("u2") &&
        col("i2") === col("i") + 1)
      .join(buys, col("user_id") === col("u3") &&
        col("i3") === col("i") + 2)
      .count()
    val declared = SparkEntry.queries("q_events_pattern")(spark, sfDir)
      .agg(sum(col("n_matches"))).head().getLong(0)
    assert(declared == recount)
  }
}
