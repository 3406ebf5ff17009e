package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Round-12 batch (SURVEY §2 rows 180-188): each declared query is
  * cross-checked against an INDEPENDENT in-JVM brute-force reference
  * over the sf0.001 corpus (500 docs / 1000 events — collectable), or
  * against a structurally different Spark derivation, so a defect in
  * the distributed formulation cannot hide behind an identical defect
  * in the oracle SQL. */
class Round12Spec extends SparkSpecBase {

  private def docs: Seq[(Long, String)] =
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq


  test("q_incr_wordcount: signed merge == from-scratch wordcount of the post-delta corpus") {
    val got = SparkEntry.queries("q_incr_wordcount")(spark, sfDir)
    val brute = docs.filter(_._1 % 10 != 1)
      .flatMap(_._2.split(" "))
      .groupBy(identity).map { case (w, xs) => (w, xs.size.toLong) }
    val gotMap = got.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotMap == brute, "merged counts differ from brute recompute")
    assert(gotMap.values.forall(_ > 0), "zero/negative count survived the merge")
  }

  test("q_dedup_chunks matches an in-JVM chunker") {
    val brute = docs.flatMap { case (id, text) =>
      val toks = text.split(" ")
      (0 until toks.length / 16).map { ci =>
        (md5hex(toks.slice(ci * 16, ci * 16 + 16).mkString(" ")), id)
      }
    }
    val expected = brute.groupBy(_._1)
      .map { case (h, occ) =>
        (h, (occ.size.toLong, occ.map(_._2).distinct.size.toLong,
          occ.map(_._2).min))
      }
      .filter(_._2._2 >= 2)
    val got = SparkEntry.queries("q_dedup_chunks")(spark, sfDir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected, s"chunk groups differ: got ${got.size}, expected ${expected.size}")
    assert(got.nonEmpty, "fixture produced no duplicate chunks — row is vacuous")
  }

  test("q_agg_median: interpolated median matches a sort-based in-JVM computation bitwise") {
    val cents = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = cents.groupBy(_._1).map { case (p, xs) =>
      val v = xs.map(_._2).sorted.toIndexedSeq
      val m =
        if (v.size % 2 == 1) v(v.size / 2).toDouble
        else { // lo + (hi - lo) * 0.5 — the exact-percentile interpolation
          val (a, b) = (v(v.size / 2 - 1), v(v.size / 2))
          a.toDouble + (b - a).toDouble * 0.5
        }
      (p, (xs.size.toLong, m, v.min, v.max))
    }
    val got = SparkEntry.queries("q_agg_median")(spark, sfDir).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected, "median row differs from sort-based reference")
  }

  test("q_agg_filtered equals independently filtered aggregates") {
    val li = Tables.lineitem(spark, sfDir)
    SparkEntry.queries("q_agg_filtered")(spark, sfDir).collect().foreach { r =>
      val fl = r.getString(r.fieldIndex("l_returnflag"))
      val sub = li.filter(col("l_returnflag") === fl)
      assert(r.getLong(r.fieldIndex("n_rows")) == sub.count())
      assert(r.getLong(r.fieldIndex("n_disc")) ==
        sub.filter(col("l_discount") > 0.05).count())
      val rev = sub.filter(col("l_quantity") > 25)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"))
        .head().getDouble(0)
      assert(r.getDouble(r.fieldIndex("rev_hi_qty")) == rev)
      val mx = sub.filter(col("l_tax") < 0.02)
        .agg(max("l_extendedprice")).head().getDouble(0)
      assert(r.getDouble(r.fieldIndex("max_lowtax_price")) == mx)
    }
  }

  test("q_win_nth_value: frame extremes match a per-partition sort") {
    val rows = SparkEntry.queries("q_win_nth_value")(spark, sfDir).collect()
    val byP = rows.groupBy(_.getString(1))
    byP.foreach { case (_, rs) =>
      val order = rs.sortBy(r => (r.getDouble(2), r.getLong(0)))
      val (cheap, second, top) =
        (order.head.getLong(0),
          if (order.length >= 2) Some(order(1).getLong(0)) else None,
          order.last.getLong(0))
      rs.foreach { r =>
        assert(r.getLong(r.fieldIndex("cheapest")) == cheap)
        assert(r.getLong(r.fieldIndex("priciest")) == top)
        val sc = r.fieldIndex("second_cheapest")
        if (second.isDefined) assert(r.getLong(sc) == second.get)
        else assert(r.isNullAt(sc))
      }
    }
    assert(rows.nonEmpty)
  }

  test("q_profile_stats equals direct per-column aggregates") {
    val li = Tables.lineitem(spark, sfDir)
    val got = SparkEntry.queries("q_profile_stats")(spark, sfDir).collect()
    assert(got.length == 4)
    got.foreach { r =>
      val c = r.getString(0)
      assert(r.getLong(1) == li.count())
      assert(r.getLong(2) == li.select(c).distinct().count(), s"NDV($c)")
      val direct = li.agg(min(col(c)), max(col(c)),
        sum(col(c).cast("decimal(18,2)")).cast("double")).head()
      assert(r.getDouble(3) == direct.getDouble(0), s"min($c)")
      assert(r.getDouble(4) == direct.getDouble(1), s"max($c)")
      assert(r.getDouble(5) == direct.getDouble(2), s"sum($c)")
    }
  }

  test("q_sink_compaction: result-invisible AND actually compacts to one file per partition") {
    val got = SparkEntry.queries("q_sink_compaction")(spark, sfDir)
    val direct = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("value_sum"))
    assert(got.exceptAll(direct).isEmpty && direct.exceptAll(got).isEmpty,
      "compacted aggregate differs from the original events")
    // physical claim: landing has multiple files in at least one day
    // partition; the compacted copy has exactly one per day
    val root = new java.io.File(
      s"${sys.props("java.io.tmpdir")}").listFiles()
      .filter(f => f.getName.startsWith("graft_streamops_") &&
        f.getName.endsWith(spark.sparkContext.applicationId))
      .map(f => new java.io.File(f, "compact")).find(_.exists())
    assert(root.isDefined, "compaction scratch root not found")
    def perDay(sub: String): Seq[Int] =
      new java.io.File(root.get, sub).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("day="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    val (landing, compacted) = (perDay("landing"), perDay("compacted"))
    assert(landing.max > 1, s"landing not fragmented: $landing")
    assert(compacted.nonEmpty && compacted.forall(_ == 1),
      s"compacted partitions not single-file: $compacted")
  }

  test("q_stream_join_interval: streaming result == batch interval join") {
    val got = SparkEntry.queries("q_stream_join_interval")(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type")
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("ts").as("v_ts"),
        col("user_id"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
        col("user_id").as("p_user"))
    val batch = v.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("wait_us"))
    assert(got.count() == batch.count(), "pair count differs from batch join")
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "streaming join emitted a different pair set than the batch join")
  }

  test("q_text_winnowing matches an in-JVM winnower and honours the coverage guarantee") {
    // brute winnowing: k=4 shingles, window w=4, md5-hex min
    val fpsByDoc: Map[Long, Set[String]] = docs.flatMap { case (id, text) =>
      val toks = text.split(" ")
      if (toks.length < 7) None
      else {
        val hs = (0 to toks.length - 4)
          .map(i => md5hex(toks.slice(i, i + 4).mkString(" ")))
        val fps = (0 to hs.length - 4).map(j => hs.slice(j, j + 4).min).toSet
        Some(id -> fps)
      }
    }.toMap
    val docFreq = fpsByDoc.toSeq.flatMap { case (id, fps) => fps.map((_, id)) }
      .groupBy(_._1).map { case (fp, xs) => (fp, xs.map(_._2).distinct.size) }
    val got = SparkEntry.queries("q_text_winnowing")(spark, sfDir).collect()
    assert(got.length == fpsByDoc.size)
    got.foreach { r =>
      val id = r.getLong(0)
      val fps = fpsByDoc(id)
      assert(r.getLong(1) == fps.size.toLong, s"n_fp($id)")
      assert(r.getLong(2) == fps.count(docFreq(_) >= 2).toLong, s"n_shared($id)")
      assert(r.getString(3) == fps.min, s"min_fp($id)")
    }
    // winnowing guarantee: any two docs sharing a run of >= k+w-1 = 7
    // tokens share a fingerprint — exact-duplicate docs (the fixture
    // has them) must therefore have n_shared > 0
    val dupDocs = docs.groupBy(_._2).filter(_._2.size >= 2)
      .flatMap(_._2.map(_._1))
      .filter(id => fpsByDoc.contains(id)).toSet
    if (dupDocs.nonEmpty) {
      val bad = got.filter(r => dupDocs(r.getLong(0)) && r.getLong(2) == 0)
      assert(bad.isEmpty,
        s"exact-duplicate docs with no shared fingerprint: ${bad.map(_.getLong(0)).toSeq}")
    }
  }
}
