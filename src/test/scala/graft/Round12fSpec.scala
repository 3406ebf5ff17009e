package graft

import org.apache.spark.sql.functions._
import graft.ops.Sweep

/** Specs for SURVEY §2 rows 212-215 (Round12b batch 4): the
  * signed-incremental band join, the interval-overlap join, the exact
  * weighted median, and the schema-evolution read. */
class Round12fSpec extends SparkSpecBase {

  private val rnd = new scala.util.Random(1208)

  test("q_incr_band: maintenance ≡ batch q208 over the post-delta corpus") {
    val ev = graft.engine.Tables.events(spark, sfDir).select(
      col("event_id"), col("event_type"), unix_micros(col("ts")).as("tsu"))
    val post = ev.filter(col("event_id") % 10 =!= 1)
    val band = 900L * 1000000L
    val batch = Sweep.bandSelfJoin(post, "event_id", "tsu", band,
        Seq("event_type"))
      .groupBy(least(col("event_type_a"), col("event_type_b")).as("t1"),
        greatest(col("event_type_a"), col("event_type_b")).as("t2"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("gap")).as("gap_us_sum"))
    val incr = SparkEntry.queries("q_incr_band")(spark, sfDir)
    assert(incr.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(incr).count() == 0)
  }

  test("q_incr_band pass-through soundness: untouched base partials ARE " +
      "the post partials on those buckets") {
    // the mechanism's core claim: a bucket no delta event touches has
    // identical pair partials before and after the delta — so passing
    // the stored rows through is exact, not an approximation
    val ev = graft.engine.Tables.events(spark, sfDir).select(
      col("event_id"), col("event_type"), unix_micros(col("ts")).as("tsu"))
    val band = 900L * 1000000L
    val base = ev.filter(col("event_id") % 10 =!= 0)
    val post = ev.filter(col("event_id") % 10 =!= 1)
    val delta = ev.filter(col("event_id") % 10 === 0)
      .unionByName(ev.filter(col("event_id") % 10 === 1))
    val touched = delta.select(explode(expr(
        s"sequence(tsu div ${band}L - 1, tsu div ${band}L + 1)"))
      .as("abucket")).distinct()
    def partials(e: org.apache.spark.sql.DataFrame) =
      Sweep.bandSelfJoin(e, "event_id", "tsu", band, Seq("event_type"))
        .withColumn("abucket", expr(s"ts_b div ${band}L"))
        .groupBy(col("abucket"),
          least(col("event_type_a"), col("event_type_b")).as("t1"),
          greatest(col("event_type_a"), col("event_type_b")).as("t2"))
        .agg(count(lit(1)).as("n"), sum(col("gap")).as("g"))
    val keepBase = partials(base).join(touched, Seq("abucket"), "left_anti")
    val keepPost = partials(post).join(touched, Seq("abucket"), "left_anti")
    assert(keepBase.exceptAll(keepPost).count() == 0)
    assert(keepPost.exceptAll(keepBase).count() == 0)
  }

  test("intervalOverlapJoin ≡ naive overlap join on random intervals") {
    import spark.implicits._
    val iv = (1L to 250L).map { i =>
      val s = rnd.nextLong(100000L)
      (i, s, s + rnd.nextLong(3000L))
    }.toDF("id", "s", "e")
    Seq(50L, 1000L, 70000L).foreach { bucket =>
      val got = Graft.intervalOverlapJoin(iv, Seq("id"), "s", "e", bucket)
        .select(col("id_a"), col("id_b"), col("overlap"))
      val naive = iv.as("a").join(iv.as("b"),
          col("a.id") < col("b.id") &&
            col("a.s") <= col("b.e") && col("b.s") <= col("a.e"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          (least(col("a.e"), col("b.e")) -
            greatest(col("a.s"), col("b.s"))).as("overlap"))
      assert(got.exceptAll(naive).count() == 0, s"bucket=$bucket extra")
      assert(naive.exceptAll(got).count() == 0, s"bucket=$bucket lost")
    }
  }

  test("q_join_interval_overlap: same-user sessions never overlap; " +
      "credit symmetry") {
    val out = SparkEntry.queries("q_join_interval_overlap")(spark, sfDir)
      .collect()
    // total credited count must be even (each pair credited twice)
    val total = out.map(_.getAs[Long]("n_overlaps")).sum
    assert(total % 2 == 0)
    out.foreach(r => assert(r.getAs[Long]("overlap_us_sum") >= 0))
  }

  test("q_agg_weighted_median: the lower-weighted-median definition holds") {
    val li = graft.engine.Tables.lineitem(spark, sfDir)
      .withColumn("cents",
        (graft.engine.Dec.dec2(col("l_extendedprice")) * 100).cast("long"))
      .withColumn("wt", col("l_quantity").cast("long"))
    val med = SparkEntry.queries("q_agg_weighted_median")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("w_total"), r.getAs[Long]("wmedian_cents"))).toMap
    med.foreach { case (flag, (wTotal, m)) =>
      val below = li.filter(col("l_returnflag") === flag &&
        col("cents") < m).agg(sum(col("wt"))).head().getLong(0)
      val atOrBelow = li.filter(col("l_returnflag") === flag &&
        col("cents") <= m).agg(sum(col("wt"))).head().getLong(0)
      assert(2 * below < wTotal, s"$flag: median too high")
      assert(2 * atOrBelow >= wTotal, s"$flag: median too low")
      val wCheck = li.filter(col("l_returnflag") === flag)
        .agg(sum(col("wt"))).head().getLong(0)
      assert(wCheck == wTotal)
    }
    assert(med.nonEmpty)
  }

  test("q_scan_schema_evolution: old generation surfaces NULLs; totals " +
      "reconcile with the source table") {
    val out = SparkEntry.queries("q_scan_schema_evolution")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val nat = graft.engine.Tables.nation(spark, sfDir)
    val n1 = nat.filter(col("n_nationkey") < 13).count()
    val n2 = nat.filter(col("n_nationkey") >= 13).count()
    assert(out(1L)._1 == n1 && out(2L)._1 == n2)
    assert(out(1L)._2 == 0, "gen-1 rows must surface n_regionkey as NULL")
    assert(out(2L)._2 == n2, "gen-2 rows all carry the added column")
    val keySum = nat.agg(sum(col("n_nationkey"))).head().getLong(0)
    assert(out(1L)._3 + out(2L)._3 == keySum)
  }
}
