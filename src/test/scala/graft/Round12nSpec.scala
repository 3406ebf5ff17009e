package graft

import org.apache.spark.sql.functions._

/** Specs for SURVEY §2 rows 243-244: equi-depth histogram and
  * grouping_id subtotal disambiguation. */
class Round12nSpec extends SparkSpecBase {

  test("q_agg_histogram_eqdepth: depth ±1, ordered boundaries, full cover") {
    val rows = SparkEntry.queries("q_agg_histogram_eqdepth")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val total = graft.engine.Tables.orders(spark, sfDir).count()
    assert(rows.map(_._3).sum == total, "buckets must cover all rows")
    rows.groupBy(_._1).foreach { case (p, bs) =>
      assert(bs.map(_._2).sorted.toSeq == (1 to 4), s"$p: bucket ids")
      val sizes = bs.map(_._3)
      assert(sizes.max - sizes.min <= 1,
        s"$p: equi-depth means sizes differ by at most 1")
      // boundaries: bucket k's hi ≤ bucket k+1's lo (unique-order
      // ntile splits never interleave values)
      val sorted = bs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 <= b._4, s"$p: boundary order")
        case _ =>
      }
      sorted.foreach(b => assert(b._4 <= b._5))
    }
  }

  test("eqDepthHistogram: random frame ≡ brute-force ntile") {
    val rnd = new scala.util.Random(8080)
    import spark.implicits._
    val rows = Seq.tabulate(1000)(i =>
      (s"g${rnd.nextInt(3)}", rnd.nextInt(50).toLong, i.toLong))
    val got = ops.Aggs.eqDepthHistogram(
        rows.toDF("g", "cents", "k"), "g", "cents", "k", 7)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.sortBy(t => (t._2, t._3))
      val n = sorted.length
      // SQL-standard ntile: first (n % k) buckets get ceil(n/k)
      val k = 7
      val base = n / k; val extra = n % k
      var idx = 0
      (1 to k).foreach { b =>
        val size = base + (if (b <= extra) 1 else 0)
        if (size > 0) {
          val slice = sorted.slice(idx, idx + size)
          idx += size
          val (gn, lo, hi) = got((g, b))
          assert(gn == size, s"$g bucket $b size")
          assert(lo == slice.map(_._2).min && hi == slice.map(_._2).max,
            s"$g bucket $b bounds")
        }
      }
    }
  }

  test("q_win_time_range: ≡ brute-force trailing-hour scan (ties, boundaries)") {
    val rnd = new scala.util.Random(5150)
    import spark.implicits._
    // deliberately generate tied timestamps and exact 1-hour gaps
    val base = 1700000000000000L
    val rows = Seq.tabulate(800) { i =>
      val u = rnd.nextInt(10).toLong
      val t = base + rnd.nextInt(40) * 900000000L // 15-min grid → ties
      (i.toLong, u, t, rnd.nextInt(1000).toLong)
    }
    val df = rows.toDF("event_id", "user_id", "tsu", "cents")
      .selectExpr("event_id", "user_id",
        "timestamp_micros(tsu) AS ts", "cents")
    val got = df.selectExpr("event_id",
        """count(*) OVER (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
           AS n_1h""",
        """sum(cents) OVER (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
           AS cents_1h""")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val hour = 3600000000L
    rows.foreach { case (id, u, t, _) =>
      // RANGE peers: everything with t - hour <= t2 <= t (ties included)
      val window = rows.filter(e =>
        e._2 == u && e._3 <= t && t - e._3 <= hour)
      assert(got(id) == (window.length.toLong, window.map(_._4).sum),
        s"event $id")
    }
  }

  test("q_ts_top_movers: ≡ brute-force weekly recompute") {
    val got = SparkEntry.queries("q_ts_top_movers")(spark, sfDir)
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))).toMap
    val weekly = graft.engine.Tables.events(spark, sfDir)
      .groupBy(date_trunc("week", col("ts")).cast("date").as("week"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
    val byType = weekly.groupBy(_._2)
    var expected = Map.empty[(String, String), (Long, Long, Long)]
    byType.foreach { case (t, ws) =>
      val sorted = ws.sortBy(_._1)
      sorted.sliding(2).foreach {
        case Array(prev, cur) =>
          expected += (cur._1, t) -> (cur._3, prev._3, cur._3 - prev._3)
        case _ =>
      }
    }
    assert(got.view.mapValues(v => (v._1, v._2, v._3)).toMap == expected)
    // rank: within each week, rnk is the rank of delta under
    // (delta desc, type asc)
    got.groupBy(_._1._1).foreach { case (_, rs) =>
      val ordered = rs.toSeq.sortBy { case ((_, t), v) => (-v._3, t) }
      ordered.zipWithIndex.foreach { case (((_, _), v), i) =>
        assert(v._4 == i + 1)
      }
    }
  }

  test("q_fn_variant: typed extraction ≡ JSON-path; missing count = group size") {
    val got = SparkEntry.queries("q_fn_variant")(spark, sfDir).collect()
    val viaJson = graft.engine.Tables.events(spark, sfDir)
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(viaJson(r.getLong(0)) == r.getLong(1),
        s"k=${r.getLong(0)}: variant path must match JSON path")
      assert(r.getLong(2) == r.getLong(1),
        "absent field must be NULL for every row of the group")
    }
  }

  test("q_fn_collate: case variants merge; upper counts pin the merge") {
    val got = SparkEntry.queries("q_fn_collate")(spark, sfDir).collect()
    val ev = graft.engine.Tables.events(spark, sfDir)
    val types = ev.select("event_type").distinct()
      .collect().map(_.getString(0)).sorted
    assert(got.map(_.getString(0)).sorted.toSeq == types.toSeq,
      "collated groups must be exactly the base (lower-case) types")
    got.foreach { r =>
      val t = r.getString(0)
      val n = ev.filter(col("event_type") === t).count()
      val nUp = ev.filter(col("event_type") === t &&
        col("event_id") % 2 === 0).count()
      assert(r.getLong(1) == n, s"$t: group size")
      assert(r.getLong(2) == nUp && nUp > 0,
        s"$t: the merge must have crossed case")
    }
  }

  test("q_agg_grouping_id: levels reconcile exactly") {
    val rows = SparkEntry.queries("q_agg_grouping_id")(spark, sfDir)
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val detail = rows.filter(_._3 == 0)
    val byFlag = rows.filter(_._3 == 1)
    val grand = rows.filter(_._3 == 3)
    assert(grand.length == 1 && rows.count(_._3 == 2) == 0,
      "rollup (not cube): no gid=2 level")
    assert(grand.head._4 == detail.map(_._4).sum)
    assert(grand.head._5 == detail.map(_._5).sum)
    byFlag.foreach { case (f, _, _, n, cs) =>
      val d = detail.filter(_._1 == f)
      assert(n == d.map(_._4).sum && cs == d.map(_._5).sum,
        s"flag $f subtotal must equal its details")
    }
    // subtotal rows carry NULL in the rolled-up dim, detail rows don't
    assert(detail.forall(r => r._1.isDefined && r._2.isDefined))
    assert(byFlag.forall(r => r._1.isDefined && r._2.isEmpty))
    assert(grand.head._1.isEmpty && grand.head._2.isEmpty)
  }
}
