package graft

import org.apache.spark.sql.functions._
import graft.ops.Sweep

/** Round-13 specs: the sufficient-statistics sweeps that de-quadratic
  * the proximity-join family (SURVEY §2 rows 208/212/213/216). Each
  * sweep is proved IDENTICAL to its pair-join formulation — the
  * formulation already proved ≡ the naive theta join in
  * Round12e/f/gSpec — on the fixture and on adversarial random data
  * (dense exact ties, exact band-edge gaps, touching endpoints,
  * duplicate intervals, empty/singleton buckets). */
class Round13Spec extends SparkSpecBase {

  private val rnd = new scala.util.Random(1301)
  private val band = 900L * 1000000L

  private def fixtureEv = graft.engine.Tables.events(spark, sfDir)
    .select(col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("tsu"))

  /** Reference per-(abucket, t1, t2) partials from the PAIR join,
    * attributed like [[Sweep.bandStats]]: the later element's bucket. */
  private def pairPartials(ev: org.apache.spark.sql.DataFrame,
                           w: Long) =
    Sweep.bandSelfJoin(ev, "event_id", "tsu", w, Seq("event_type"))
      .withColumn("abucket", expr(s"greatest(ts_a, ts_b) div ${w}L"))
      .groupBy(col("abucket"),
        least(col("event_type_a"), col("event_type_b")).as("t1"),
        greatest(col("event_type_a"), col("event_type_b")).as("t2"))
      .agg(count(lit(1)).as("n"), sum(col("gap")).as("gap_sum"))

  test("bandStats ≡ pair-join partials on the fixture (per bucket)") {
    val got = Sweep.bandStats(fixtureEv, band)
    val ref = pairPartials(fixtureEv, band)
    assert(got.exceptAll(ref).count() == 0)
    assert(ref.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("bandStats ≡ pair join on adversarial random timelines " +
      "(exact ties, band-edge gaps, sparse buckets)") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val w = 1000L
      val n = 400
      val rows = (1 to n).map { i =>
        val base = rnd.nextInt(20) * w // cluster starts on bucket edges
        val ts = rnd.nextInt(4) match {
          case 0 => base + rnd.nextInt(3)          // dense ties at edges
          case 1 => base + w - 1                   // bucket-end pileup
          case 2 => base + rnd.nextInt(2) * w      // exact-band gaps
          case _ => base + rnd.nextLong(3 * w)     // spread
        }
        (i.toLong, s"t${rnd.nextInt(3)}", ts)
      }
      val ev = rows.toDF("event_id", "event_type", "tsu")
      val got = Sweep.bandStats(ev, w)
      val ref = pairPartials(ev, w)
      assert(got.exceptAll(ref).count() == 0, s"trial $trial: extra rows")
      assert(ref.exceptAll(got).count() == 0, s"trial $trial: missing rows")
    }
  }

  test("bandStats pass-through: untouched-bucket partials identical " +
      "across a delta (q212 state soundness under the new attribution)") {
    val ev = fixtureEv
    val base = ev.filter(col("event_id") % 10 =!= 0)
    val post = ev.filter(col("event_id") % 10 =!= 1)
    val delta = ev.filter(col("event_id") % 10 === 0)
      .unionByName(ev.filter(col("event_id") % 10 === 1))
    val touched = delta.select(explode(expr(
        s"sequence(tsu div ${band}L - 1, tsu div ${band}L + 1)"))
      .as("abucket")).distinct()
    val keepBase = Sweep.bandStats(base, band)
      .join(touched, Seq("abucket"), "left_anti")
    val keepPost = Sweep.bandStats(post, band)
      .join(touched, Seq("abucket"), "left_anti")
    assert(keepBase.exceptAll(keepPost).count() == 0)
    assert(keepPost.exceptAll(keepBase).count() == 0)
  }

  test("bandStats restricted-input recompute: partials of a bucket set " +
      "computed from ±1-bucket input ≡ full-corpus partials (q212 " +
      "recompute branch soundness)") {
    import spark.implicits._
    val ev = fixtureEv
    // the three most-occupied buckets (sf0.001 is sparse — arbitrary
    // bucket ids would often hold zero pairs and prove nothing)
    val some = ev.groupBy(expr(s"tsu div ${band}L").as("b"))
      .agg(count(lit(1)).as("c")).orderBy(col("c").desc, col("b"))
      .limit(3).collect().map(_.getLong(0)).toSeq
    val want = some.toDF("abucket")
    val inputB = some.flatMap(b => Seq(b - 1, b, b + 1)).distinct
      .toDF("ibucket")
    val restricted = ev.join(inputB,
      expr(s"tsu div ${band}L") === col("ibucket"), "left_semi")
    val got = Sweep.bandStats(restricted, band)
      .join(want, Seq("abucket"), "left_semi")
    val ref = Sweep.bandStats(ev, band)
      .join(want, Seq("abucket"), "left_semi")
    assert(got.exceptAll(ref).count() == 0)
    assert(ref.exceptAll(got).count() == 0)
    assert(ref.count() > 0, "chosen buckets must be non-empty")
  }

  test("overlapStats ≡ pair join on random intervals (touching " +
      "endpoints, duplicates, nesting)") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val n = 200
      val iv = (1 to n).map { i =>
        val s = rnd.nextLong(50000L)
        val len = rnd.nextInt(4) match {
          case 0 => 0L                  // point intervals
          case 1 => rnd.nextLong(30000L) // long, heavy nesting
          case _ => rnd.nextLong(800L)
        }
        (i.toLong, s, s + len)
      } ++ Seq((901L, 100L, 200L), (902L, 200L, 300L), // touching
        (903L, 100L, 200L), (904L, 100L, 200L))        // duplicates
      val df = iv.toDF("id", "s", "e")
      val pairs = Sweep.intervalOverlapJoin(df, Seq("id"), "s", "e",
        2048L)
      val ref = pairs.select(col("id_a").as("id"), col("overlap"))
        .unionByName(pairs.select(col("id_b").as("id"), col("overlap")))
        .groupBy("id")
        .agg(count(lit(1)).as("n_ov"), sum(col("overlap")).as("ov_sum"))
      val got = Sweep.overlapStats(df, Seq("id"), "s", "e", 2048L)
        .filter(col("n_ov") > 0)
      assert(got.exceptAll(ref).count() == 0, s"trial $trial: extra")
      assert(ref.exceptAll(got).count() == 0, s"trial $trial: missing")
    }
  }

  test("overlapStats zero-partner rows report (0, 0), never negatives") {
    import spark.implicits._
    val df = Seq((1L, 0L, 10L), (2L, 100L, 110L), (3L, 50L, 60L))
      .toDF("id", "s", "e")
    val got = Sweep.overlapStats(df, Seq("id"), "s", "e", 32L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == Set((1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 0L)))
  }

  test("prefixProbe: strict vs non-strict at exact ties; probes before/" +
      "after all data; empty-bucket probes") {
    import spark.implicits._
    val data = Seq((10L, 1L), (10L, 1L), (20L, 1L), (40L, 1L))
      .toDF("v", "w")
    val probes = Seq(
      (10L, true, "a"), (10L, false, "b"),   // tie boundary both ways
      (5L, true, "c"),                       // before all data
      (100L, false, "d"),                    // after all data, far bucket
      (35L, true, "e"))                      // empty-bucket interior
      .toDF("v", "strict", "tag")
    val got = Sweep.prefixProbe(data, probes, Nil, "v", Seq("w"),
        "strict", 16L)
      .select(col("tag"), col("w_ps")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 2L, "c" -> 0L, "d" -> 4L,
      "e" -> 3L))
  }

  test("gridPairs2d selector: exact pair join under the cap; the " +
      "SWEEP branch above it computes IDENTICAL aggregates (fixture + " +
      "segment-boundary/tie/duplicate adversarial data)") {
    import spark.implicits._
    val (tband, vband) = (100L, 10L)
    // one hot cell (20 rows) + a sparse neighborhood
    val rows = (1 to 20).map(i => (i.toLong, s"t${i % 2}",
        50L + i % 7, 5L + i % 3)) ++
      Seq((100L, "t0", 250L, 5L), (101L, "t1", 260L, 8L))
    val ev = rows.toDF("event_id", "event_type", "tsu", "vc")
    val exact = Sweep.gridPairs2d(ev, tband, vband)
    assert(exact.select("plan").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("exact"))
    // force the sweep branch: tiny volume cap
    val swept = Sweep.gridPairs2d(ev, tband, vband, volumeCap = 1L)
    assert(swept.select("plan").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("sweep"))
    // the sweep is EXACT: identical aggregate rows, only `plan` differs
    assert(swept.drop("plan").exceptAll(exact.drop("plan")).count() == 0)
    assert(exact.drop("plan").exceptAll(swept.drop("plan")).count() == 0)

    // adversarial: random rows engineered to straddle sweep segment
    // boundaries (seg = 64·T), hit exact band edges, tie timestamps
    // and duplicate (tsu, vc) points, at two segment factors
    val rnd = new scala.util.Random(13)
    val adv = (1 to 400).map { i =>
      val tsu = rnd.nextInt(3) match {
        case 0 => 6400L * (1 + rnd.nextInt(3)) + rnd.nextInt(3) - 1
        case 1 => 100L * rnd.nextInt(200)
        case _ => rnd.nextInt(20000).toLong
      }
      (i.toLong, s"t${rnd.nextInt(3)}", tsu, (rnd.nextInt(40) - 20).toLong)
    } ++ Seq((500L, "t0", 6400L, 0L), (501L, "t1", 6400L, 0L),
      (502L, "t1", 6300L, 10L), (503L, "t2", 6500L, -10L))
    val advDf = adv.toDF("event_id", "event_type", "tsu", "vc")
    val advExact = Sweep.gridPairs2d(advDf, tband, vband).drop("plan")
    // derived factor included (r14): the auto-sizer must also be
    // result-invisible
    val auto = graft.ops.Sweep2D.autoSegFactor(advDf, tband)
    for (segFactor <- Seq(2, 64, auto)) {
      val advSweep = graft.ops.Sweep2D
        .gridPairsExact(advDf, tband, vband, segFactor)
        .orderBy("t1", "t2")
      assert(advSweep.exceptAll(advExact).count() == 0 &&
        advExact.exceptAll(advSweep).count() == 0,
        s"sweep(segFactor=$segFactor) diverged from the pair join")
    }
  }

  test("sweep named accumulators report rows-in (ghosts included), " +
      "segment count and max segment size (VERDICT r15 task 5)") {
    import spark.implicits._
    val n = 3000
    val df = (1 to n)
      .map(i => (i.toLong, s"t${i % 3}", i.toLong * 7L, (i % 50).toLong))
      .toDF("event_id", "event_type", "tsu", "vc")
    val out = graft.ops.Sweep2D.gridPairsExact(df, 100L, 5L, segFactor = 4)
    out.collect() // run the job so the accumulators populate
    val m = graft.ops.Sweep2D.lastRun
      .getOrElse(fail("gridPairsExact must publish its run metrics"))
    val rowsIn = m.rowsIn.value
    val segs = m.segments.value
    val maxSeg = m.maxSegmentRows.value
    // rows-in = n + ghosts; ghost share is bounded by ~1/segFactor
    assert(rowsIn >= n && rowsIn <= n + n / 4 + 4,
      s"rowsIn $rowsIn outside [n, n + n/segFactor]")
    assert(segs > 1, s"expected multiple segments, got $segs")
    assert(maxSeg > 0 && maxSeg <= rowsIn,
      s"maxSegmentRows $maxSeg out of range")
    // the max segment is a real upper envelope of the average
    assert(maxSeg >= rowsIn / segs,
      s"max $maxSeg below mean ${rowsIn / segs}")
  }

  test("autoSegFactor derives the segment factor from measured " +
      "occupancy: shrinks on dense corpora (memory bound), grows on " +
      "sparse ones (parallelism bound), clamps to [16, 4096], and " +
      "falls back to 64 on empty input") {
    import spark.implicits._
    val S2D = graft.ops.Sweep2D
    // dense: 1M-row-equivalent target forced tiny → occupancy term
    // drives f to the floor
    val dense = (1 to 2000)
      .map(i => (i.toLong, "t", (i % 100).toLong, 0L))
      .toDF("event_id", "event_type", "tsu", "vc")
    assert(S2D.autoSegFactor(dense, 10L, targetRows = 20L)
      == S2D.MinSegFactor)
    // sparse: huge span, few rows → parallelism term binds well above
    // the floor, below the ceiling
    val sparse = (1 to 50)
      .map(i => (i.toLong, "t", i.toLong * 1000000L, 0L))
      .toDF("event_id", "event_type", "tsu", "vc")
    val f = S2D.autoSegFactor(sparse, 100L)
    assert(f > S2D.MinSegFactor && f <= S2D.MaxSegFactor, s"f=$f")
    // empty input: the documented fixed fallback
    assert(S2D.autoSegFactor(dense.filter(lit(false)), 10L)
      == S2D.DefaultSegFactor)
  }

  test("gridPairVolume: counts adjacent-cell candidate volume on a " +
      "known lattice") {
    import spark.implicits._
    // two cells, diagonal neighbors, 3 and 2 rows; one far cell with 4
    val cells = (Seq.fill(3)((0L, 0L)) ++ Seq.fill(2)((1L, 1L)) ++
      Seq.fill(4)((10L, 10L))).toDF("tc", "vcell")
    val r = Sweep.gridPairVolume(cells).head()
    assert(r.getAs[Long]("n_cells") == 3L)
    assert(r.getAs[Long]("max_cell") == 4L)
    // ordered adjacent pairs: (A,A)=9, (B,B)=4, (A,B)+(B,A)=12,
    // (C,C)=16 → 41
    assert(r.getAs[Long]("cand_volume") == 41L)
  }
}
