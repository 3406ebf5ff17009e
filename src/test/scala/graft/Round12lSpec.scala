package graft

import org.apache.spark.sql.functions._

/** Specs for SURVEY §2 rows 237-239: exact-rational Gini,
  * per-node clustering coefficients, and rolling exact medians. */
class Round12lSpec extends SparkSpecBase {

  test("q_agg_gini: ≡ BigInt brute force; 0 ≤ num < den") {
    val got = SparkEntry.queries("q_agg_gini")(spark, sfDir).collect()
    val raw = graft.engine.Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"),
        (graft.engine.Dec.dec2(col("o_totalprice")) * 100).cast("long"),
        col("o_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byP = raw.groupBy(_._1)
    assert(got.length == byP.size)
    got.foreach { r =>
      val rows = byP(r.getString(0)).sortBy(t => (t._2, t._3))
      val n = BigInt(rows.length)
      val sx = rows.map(t => BigInt(t._2)).sum
      val six = rows.zipWithIndex
        .map { case (t, i) => BigInt(i + 1) * BigInt(t._2) }.sum
      val num = 2 * six - (n + 1) * sx
      val den = n * sx
      assert(r.getLong(1) == rows.length)
      assert(BigInt(r.getString(2)) == num, "gini_num")
      assert(BigInt(r.getString(3)) == den, "gini_den")
      assert(num >= 0 && num < den, "Gini must lie in [0, 1)")
    }
  }

  test("q_graph_clustering: Σ n_tri = 3 × total triangles; coeff bounds") {
    val got = SparkEntry.queries("q_graph_clustering")(spark, sfDir)
      .collect()
    val totalTri = ops.GraphStats
      .countTriangles(ops.GraphStats.strongEdges(spark, sfDir))
      .collect()(0).getLong(0)
    assert(got.map(_.getLong(2)).sum == 3 * totalTri,
      "per-node incidences must sum to 3 per triangle")
    got.foreach { r =>
      assert(r.getLong(3) == 2 * r.getLong(2))
      assert(r.getLong(4) == r.getLong(1) * (r.getLong(1) - 1))
      assert(r.getLong(3) <= r.getLong(4),
        s"node ${r.getLong(0)}: coefficient must be ≤ 1")
    }
  }

  test("triangleVertices: random graph ≡ brute-force per-node counts") {
    val rnd = new scala.util.Random(7321)
    import spark.implicits._
    val edges = (0 until 400).map { _ =>
      val a = rnd.nextInt(40); val b = rnd.nextInt(40)
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(e => e._1 != e._2).distinct
    val e = edges.toDF("a", "b")
    val got = ops.GraphStats.triangleVertices(e)
      .groupBy("node").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val es = edges.toSet
    var expected = Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (x, y) <- edges
      z <- (y + 1) to 39
      if es.contains((x, z)) && es.contains((y, z))
    } {
      expected += x -> (expected(x) + 1)
      expected += y -> (expected(y) + 1)
      expected += z -> (expected(z) + 1)
    }
    assert(got == expected.filter(_._2 > 0))
  }

  test("q_events_chisq: ≡ BigInt brute force including verdicts") {
    val got = SparkEntry.queries("q_events_chisq")(spark, sfDir)
      .collect()
    val raw = graft.engine.Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id") % 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val types = raw.map(_._1).distinct.sorted
    val ta = BigInt(raw.count(_._2 == 0))
    val tc = BigInt(raw.count(_._2 != 0))
    assert(got.length == types.length)
    got.foreach { r =>
      val t = r.getString(0)
      val a = BigInt(raw.count(x => x._1 == t && x._2 == 0))
      val c = BigInt(raw.count(x => x._1 == t && x._2 != 0))
      val b = ta - a; val dd = tc - c
      val num = (ta + tc) * (a * dd - b * c) * (a * dd - b * c)
      val den = (a + b) * (c + dd) * (a + c) * (b + dd)
      assert(BigInt(r.getLong(1)) == a && BigInt(r.getLong(2)) == b &&
        BigInt(r.getLong(3)) == c && BigInt(r.getLong(4)) == dd)
      assert(BigInt(r.getString(5)) == num, s"$t chisq_num")
      assert(BigInt(r.getString(6)) == den, s"$t chisq_den")
      assert(r.getBoolean(7) == (num * 1000 > den * 3841), s"$t verdict")
    }
  }

  test("q_incr_chisq: signed-sum maintenance ≡ batch recompute over post") {
    val post = graft.engine.Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 =!= 1)
    val batch = ops.Analytics.chisqFinalize(ops.Analytics.chisqCounts(post))
    val got = SparkEntry.queries("q_incr_chisq")(spark, sfDir)
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("q_ts_rolling_median: ≡ brute-force sliding window on the fixture") {
    val got = SparkEntry.queries("q_ts_rolling_median")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val daily = graft.engine.Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    def med(xs: Seq[Long]): Double = {
      val s = xs.sorted
      val pos = 0.5 * (s.length - 1)
      val lo = pos.toInt
      if (lo + 1 < s.length) s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
      else s(lo).toDouble
    }
    daily.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((u, day, cnt), i) =>
        val window = sorted.slice(math.max(0, i - 6), i + 1).map(_._3)
        val (gc, gm) = got((u, day))
        assert(gc == cnt)
        assert(gm == med(window), s"user $u day $day")
      }
    }
  }
}
