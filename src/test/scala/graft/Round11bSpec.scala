package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Round-11 second batch (SURVEY §2 rows 162-166): structural
  * invariants the oracle hash does not express — conservation laws for
  * the pathing counts, monotonicity of the temperature thresholds, the
  * distribution-function bounds, and discrimination of the rarity
  * score (the failure mode where a threshold silently saturates to
  * all-rare or none-rare on fixture drift). */
class Round11bSpec extends SparkSpecBase {

  test("q_win_cume_dist: pr in [0,1], cd in (0,1], partition max cd is 1") {
    val df = SparkEntry.queries("q_win_cume_dist")(spark, sfDir).cache()
    val bad = df.filter(col("pr") < 0 || col("pr") > 1 ||
      col("cd") <= 0 || col("cd") > 1).count()
    assert(bad == 0, s"$bad rows outside distribution-function bounds")
    val maxCd = df.groupBy("o_orderpriority").agg(max("cd").as("m"))
      .filter(col("m") =!= 1.0).count()
    assert(maxCd == 0, "every partition's top cume_dist must be exactly 1")
    df.unpersist()
  }

  test("q_events_pathing: transitions conserve — sum == events - users") {
    val df = SparkEntry.queries("q_events_pathing")(spark, sfDir)
    val total = df.agg(sum("n_transitions")).head().getLong(0)
    val ev = Tables.events(spark, sfDir)
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    // each user with k events contributes exactly k-1 transitions
    assert(total == nEvents - nUsers,
      s"sum(n_transitions)=$total, events=$nEvents, users=$nUsers")
  }

  test("q_agg_distinct_multi equals independently computed per-column distincts") {
    val df = SparkEntry.queries("q_agg_distinct_multi")(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    df.collect().foreach { r =>
      val st = r.getString(r.fieldIndex("l_linestatus"))
      val sub = li.filter(col("l_linestatus") === st)
      assert(r.getLong(r.fieldIndex("n_parts")) ==
        sub.select("l_partkey").distinct().count())
      assert(r.getLong(r.fieldIndex("n_supps")) ==
        sub.select("l_suppkey").distinct().count())
      assert(r.getLong(r.fieldIndex("n_orders")) ==
        sub.select("l_orderkey").distinct().count())
      assert(r.getLong(r.fieldIndex("n_rows")) == sub.count())
    }
  }

  test("q_text_lm_rarity: bounds hold and the threshold discriminates") {
    val df = SparkEntry.queries("q_text_lm_rarity")(spark, sfDir).cache()
    val bad = df.filter(col("n_rare") > col("n_bigrams") ||
      col("min_p") <= 0 || col("min_p") > 1).count()
    assert(bad == 0, s"$bad rows violate rarity bounds")
    // the p < 1/32 bar must split the fixture: some docs carry rare
    // bigrams, no doc is all-rare (saturation = the threshold stopped
    // measuring anything; this is what flagged the original 1/8 bar)
    assert(df.filter(col("n_rare") > 0).count() > 0, "no rare bigrams found")
    assert(df.filter(col("n_rare") === col("n_bigrams")).count() < df.count(),
      "every doc fully rare — threshold saturated")
    df.unpersist()
  }

  test("q_sample_temperature: min lang intact, thresholds monotone, kept <= pre") {
    val rows = SparkEntry.queries("q_sample_temperature")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq // (lang, c_docs, t_int, n_kept)
    val cMin = rows.map(_._2).min
    rows.foreach { case (lang, cDocs, tInt, nKept) =>
      assert(nKept <= cDocs, s"$lang kept more than it had")
      if (cDocs == cMin)
        assert(nKept == cDocs && tInt == 65536L,
          s"min-count lang $lang must keep everything")
    }
    // acceptance threshold decreases as the language count grows
    rows.sortBy(_._2).sliding(2).foreach {
      case Seq((_, c1, t1, _), (_, c2, t2, _)) =>
        if (c1 < c2) assert(t1 >= t2, s"threshold not monotone: " +
          s"c=$c1 t=$t1 vs c=$c2 t=$t2")
      case _ =>
    }
    // the skewed fixture must actually thin the largest language
    val (maxLang, maxC, _, maxKept) = rows.maxBy(_._2)
    if (maxC > cMin * 2)
      assert(maxKept < maxC, s"skewed lang $maxLang was not downsampled")
  }

  test("q_events_dwell: mean is exactly total/n, max bounds mean") {
    SparkEntry.queries("q_events_dwell")(spark, sfDir).collect().foreach { r =>
      val n = r.getLong(r.fieldIndex("n"))
      val total = r.getLong(r.fieldIndex("total_wait_us"))
      val mx = r.getLong(r.fieldIndex("max_wait_us"))
      val mean = r.getDouble(r.fieldIndex("mean_wait_us"))
      assert(n > 0 && total >= 0 && mx >= 0)
      // bitwise: the declared mean must be the single division of the
      // exact operands, nothing re-rounded
      assert(mean == total.toDouble / n.toDouble)
      assert(mean <= mx.toDouble)
    }
  }

  test("q_agg_min_max_by: arg rows carry the extreme prices") {
    val df = SparkEntry.queries("q_agg_min_max_by")(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    df.collect().foreach { r =>
      assert(ord(r.getLong(r.fieldIndex("top_order"))) ==
        r.getDouble(r.fieldIndex("top_price")))
      assert(ord(r.getLong(r.fieldIndex("bottom_order"))) ==
        r.getDouble(r.fieldIndex("bottom_price")))
    }
  }

  test("q_incr_pathing: signed maintenance is row-identical to the batch matrix") {
    val incr = SparkEntry.queries("q_incr_pathing")(spark, sfDir)
    // batch recompute over the post-delta log, via the DECLARED q163
    // shape (drop its n_users column — the matrix is the maintained
    // state)
    val cut = lit("2024-01-20").cast("timestamp")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val post = Tables.events(spark, sfDir)
      .filter(!(col("ts") < cut && col("event_id") % 10 === 1))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("event_type", "next_type")
    assert(incr.collect().toSeq == post.collect().toSeq)
  }

  test("q_graph_2hop: neighbor count bounded by paths and by the part universe") {
    val df = SparkEntry.queries("q_graph_2hop")(spark, sfDir).cache()
    val nParts = Tables.lineitem(spark, sfDir)
      .select("l_partkey").distinct().count()
    val bad = df.filter(col("n_2hop") > col("n_paths") ||
      col("n_2hop") >= nParts).count()
    assert(bad == 0, s"$bad rows violate 2-hop bounds (parts=$nParts)")
    df.unpersist()
  }

  test("q_sample_balanced: every class kept at exactly the minority size") {
    val df = SparkEntry.queries("q_sample_balanced")(spark, sfDir)
    val counts = Tables.tbl(spark, sfDir, "embeddings")
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cMin = counts.values.min
    val rows = df.collect()
    assert(rows.length == counts.size, "a label vanished")
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_kept")) == cMin,
        s"label ${r.getInt(0)} kept ${r.getLong(1)} != minority $cMin")
    }
  }

  test("q_events_streaks: day conservation and streak bounds") {
    val df = SparkEntry.queries("q_events_streaks")(spark, sfDir).cache()
    val bad = df.filter(col("longest_streak") > col("n_active_days") ||
      col("n_streaks") > col("n_active_days") ||
      col("n_streaks") < 1).count()
    assert(bad == 0, s"$bad rows violate streak bounds")
    val totalDays = df.agg(sum("n_active_days")).head().getLong(0)
    val distinctUserDays = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts"))).distinct().count()
    assert(totalDays == distinctUserDays,
      s"active days $totalDays != distinct (user, day) $distinctUserDays")
    df.unpersist()
  }

  test("q_events_funnel_window: purchase after view, conv flag consistent") {
    SparkEntry.queries("q_events_funnel_window")(spark, sfDir)
      .collect().foreach { r =>
        val fv = r.getTimestamp(r.fieldIndex("first_view"))
        val fpIdx = r.fieldIndex("first_purchase")
        val conv = r.getLong(r.fieldIndex("conv_30m"))
        if (r.isNullAt(fpIdx)) assert(conv == 0)
        else {
          val fp = r.getTimestamp(fpIdx)
          assert(!fp.before(fv), "first_purchase precedes first_view")
          val within = fp.getTime - fv.getTime <= 1800000L
          assert(conv == (if (within) 1L else 0L), "conv flag wrong")
        }
      }
  }

  test("q_graph_jaccard_neighbors: jaccard bounds and inclusion-exclusion hold") {
    val df = SparkEntry.queries("q_graph_jaccard_neighbors")(spark, sfDir)
      .cache()
    val bad = df.filter(col("inter") < 1 || col("inter") > col("union_sz") ||
      col("jacc") <= 0 || col("jacc") > 1 ||
      col("jacc") =!= col("inter").cast("double") /
        col("union_sz").cast("double")).count()
    assert(bad == 0, s"$bad rows violate jaccard bounds")
    df.unpersist()
  }

  test("q_incr_streaks: signed maintenance is row-identical to the batch islands") {
    val incr = SparkEntry.queries("q_incr_streaks")(spark, sfDir)
    val cut = lit("2024-01-20").cast("timestamp")
    val post = Tables.events(spark, sfDir)
      .filter(!(col("ts") < cut && col("event_id") % 10 === 1))
    val batch = graft.ops.Events
      .activityStreaks(post, "user_id", "ts").orderBy("user_id")
    assert(incr.collect().toSeq == batch.collect().toSeq)
  }

  test("q_stream_sink_roundtrip equals the batch closed-window set") {
    val streamed = SparkEntry.queries("q_stream_sink_roundtrip")(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val batch = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(date_add(col("day"), 1).cast("timestamp") <=
        lit(new java.sql.Timestamp(maxTs.getTime - 60000L)))
      .orderBy("day", "event_type")
    assert(streamed.collect().toSeq == batch.collect().toSeq,
      "streamed sink must equal the batch closed-window aggregate")
  }

  test("q_stream_restart_exactly_once matches the single-run sink row for row") {
    // both are the same pure closed-window function of the input; the
    // restart path must neither duplicate nor drop a window
    val restarted = SparkEntry
      .queries("q_stream_restart_exactly_once")(spark, sfDir)
    val single = SparkEntry.queries("q_stream_sink_roundtrip")(spark, sfDir)
    assert(restarted.collect().toSeq == single.collect().toSeq)
  }

  test("q_join_asof_nearest: the chosen purchase minimizes ms distance") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
    val purByUser = ev.filter(_.getString(2) == "purchase")
      .groupBy(_.getLong(1))
      .map { case (u, rs) => u -> rs.map(r => (r.getLong(0), r.getLong(3))) }
    val errUs = ev.filter(_.getString(2) == "error")
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    SparkEntry.queries("q_join_asof_nearest")(spark, sfDir)
      .collect().foreach { r =>
        val (eId, u) = (r.getLong(0), r.getLong(1))
        val (pId, diffMs) = (r.getLong(2), r.getLong(3))
        val best = purByUser(u)
          .map { case (id, pUs) => (math.abs(pUs - errUs(eId)) / 1000, id) }
          .min // (diff_ms, id) lexicographic = the declared tie-break
        assert((diffMs, pId) == best,
          s"error $eId: got ($diffMs, $pId), brute says $best")
      }
  }
}
