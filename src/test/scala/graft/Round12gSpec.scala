package graft

import org.apache.spark.sql.functions._

/** Specs for SURVEY §2 rows 216-218: the 2-D grid join, integer
  * outlier-day detection, and signed-incremental pattern counts. */
class Round12gSpec extends SparkSpecBase {

  test("q_join_grid_2d: grid equi-join ≡ naive 2-D theta join") {
    val T = 900L * 1000000L
    val V = 5000L
    val ev = graft.engine.Tables.events(spark, sfDir).select(
      col("event_id"), col("event_type"), unix_micros(col("ts")).as("tsu"),
      floor(col("value") * lit(100)).cast("long").as("vc"))
    val naive = ev.as("a").join(ev.as("b"),
        col("a.event_id") < col("b.event_id") &&
          abs(col("a.tsu") - col("b.tsu")) <= T &&
          abs(col("a.vc") - col("b.vc")) <= V)
      .groupBy(least(col("a.event_type"), col("b.event_type")).as("t1"),
        greatest(col("a.event_type"), col("b.event_type")).as("t2"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("a.tsu") - col("b.tsu"))).as("gap_us_sum"),
        sum(abs(col("a.vc") - col("b.vc"))).as("val_gap_sum"))
    val gotFull = SparkEntry.queries("q_join_grid_2d")(spark, sfDir)
    // the round-13 occupancy guard must pick the exact branch at
    // every fixture SF (the decision column is under the oracle hash)
    assert(gotFull.select("plan").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("exact"))
    val got = gotFull.drop("plan")
    assert(got.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(got).count() == 0)
    assert(got.agg(sum(col("n_pairs"))).head().getLong(0) > 0,
      "fixture must produce 2-D near pairs")
  }

  test("grid 2d boundary: both axes at the exact band edge across cells") {
    import spark.implicits._
    val T = 900L * 1000000L
    val V = 5000L
    // events straddling a cell corner: gaps exactly (T, V) — in;
    // (T+1us, V) and (T, V+1 cent) — out
    val base = (T * 500 - 1, V * 300 - 1)
    val rows = Seq(
      (1L, "view", base._1, base._2),
      (2L, "click", base._1 + T, base._2 + V), // both axes at the edge
      (3L, "error", base._1 + T + 1, base._2), // time out of band
      (4L, "purchase", base._1 + T, base._2 + V + 1)) // value out (vs 1)
    val ev = rows.toDF("event_id", "event_type", "tsu", "vc")
      .select(col("event_id"), col("event_type"),
        timestamp_micros(col("tsu")).as("ts"),
        // invert the floor(value*100) derivation exactly: vc/100 is
        // not representable, so pick value = vc * 0.01 + 0.001 whose
        // floor(·*100) lands back on vc for the magnitudes used here
        ((col("vc").cast("double") + lit(0.1)) / 100.0).as("value"))
    val dir = java.nio.file.Files.createTempDirectory("grid_spec")
    try {
      ev.write.mode("overwrite")
        .parquet(dir.resolve("events.parquet").toString)
      val out = SparkEntry.queries("q_join_grid_2d")(spark, dir.toString)
        .select("t1", "t2", "n_pairs").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      // qualifying pairs: (1,2) both-edges; (2,3): Δt=1us? |tsu2-tsu3|=1
      //   and |vc2-vc3|=V -> in; (1,3): Δt=T+1 -> out; (1,4): Δv=V+1 -> out
      //   (2,4): Δt=0, Δv=1 -> in; (3,4): Δt=1, Δv=V+1 -> out
      assert(out == Set(("click", "view", 1L), ("click", "error", 1L),
        ("click", "purchase", 1L)),
        s"got $out")
    } finally deleteRecursively(dir)
  }

  test("q_events_outlier_days: the integer cross-multiplication IS the " +
      "3x-mean rule") {
    val daily = graft.engine.Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val byUser = daily.groupBy(_._1)
    val want = byUser.map { case (u, rows) =>
      val cnts = rows.map(_._2)
      val mean = cnts.sum.toDouble / cnts.length
      u -> cnts.count(_ > 3 * mean)
    }
    val got = SparkEntry.queries("q_events_outlier_days")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    want.foreach { case (u, n) =>
      assert(got(u) == n.toLong, s"user $u outlier-day count")
    }
    assert(got.keySet == byUser.keySet.map(identity))
  }

  test("q_incr_pattern: maintenance ≡ batch pattern counts over post-delta") {
    val ev = graft.engine.Tables.events(spark, sfDir)
    val post = ev.filter(col("event_id") % 10 =!= 1)
    val batch = graft.ops.Events.patternMatches(post, "user_id", "ts",
        "event_id", "event_type", Seq("view", "click", "purchase"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_matches"),
        min(unix_micros(col("ts"))).as("first_match_us"))
    val incr = SparkEntry.queries("q_incr_pattern")(spark, sfDir)
    assert(incr.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(incr).count() == 0)
  }
}
