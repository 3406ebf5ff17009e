package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** EXACT distributed 2-D proximity-pair aggregation — the production
  * exact path for the q216 grid join at densities where the pair join
  * is quadratic ([[Sweep.gridPairs2d]]'s scaladoc names this
  * operator; the r13 sf1 scale run motivated it).
  *
  * Problem: for events (id, type, tsu, vc), aggregate over all
  * unordered pairs with |Δtsu| ≤ T and |Δvc| ≤ V, per unordered type
  * pair: pair count, Σ|Δtsu|, Σ|Δvc|. Materializing the pairs is
  * Θ(Σ_cell n²) — density-quadratic; this operator computes the SAME
  * aggregates in O(n log n) per segment with pairs never materialized:
  *
  *  1. SEGMENT by time: seg = tsu div S with S = 64·T. Rows in the
  *     trailing T-band of each segment are duplicated as GHOSTS into
  *     the next segment (a ≤ 1/64 duplication factor), so every pair
  *     (|Δt| ≤ T < S spans at most adjacent segments) has both
  *     endpoints co-resident in the LATER endpoint's segment. Ghosts
  *     are inserted into the sweep index but never probe, so each
  *     pair is counted exactly once — at its later endpoint (ties
  *     broken by event id).
  *  2. Within a segment (one `mapPartitions` task per hash-partitioned
  *     seg group, rows pre-sorted by (seg, tsu, id)): a two-pointer
  *     time window [tsu_b − T, tsu_b] over the sorted rows, with one
  *     FENWICK (binary-indexed) TREE per event type over the
  *     segment-local vc-rank space, each node carrying (count, Σtsu,
  *     Σvc). A probe b queries each type's tree twice — the vc ranges
  *     (vc_b − V, vc_b] and (vc_b, vc_b + V] — and gets its pair
  *     count k, Σ gap = k·tsu_b − Σtsu, and Σ|Δvc| =
  *     (k_le·vc_b − Σvc_le) + (Σvc_gt − k_gt·vc_b) in O(|types|·log n).
  *  3. Per-task partial (t1, t2) aggregates merge in one tiny groupBy.
  *
  * Exactness is therefore unconditional — no cap, no recall bound —
  * and the r13 sweep spec proves ≡ the pair join on the fixture and
  * on adversarial random data (segment-boundary pairs, exact-band
  * edges, timestamp ties, duplicate rows).
  *
  * Determinism: all arithmetic is integer (µs, cents); Fenwick sums
  * rebase tsu to the segment's ghost-band origin so a segment of up
  * to ~10⁸ rows cannot overflow a BIGINT Σtsu. Memory is O(segment
  * rows · |types present in segment|) longs per task — S trades ghost
  * duplication (T/S) against segment size; production tunes S to the
  * cluster's task memory exactly like shuffle-partition sizing.
  * mapPartitions is tier-(d) by the engine's extension policy: a
  * rank-indexed sliding-window sweep is iterator state no Catalyst
  * expression or window frame can express (2-D dominance sums). */
object Sweep2D {

  /** MAX-aggregating accumulator (LongAccumulator only sums): the
    * per-run `maxSegmentRows` observable — the largest single-segment
    * working set any task held, the number that says whether the
    * [[autoSegFactor]] memory envelope actually held at runtime. */
  final class MaxAccumulator
      extends org.apache.spark.util.AccumulatorV2[Long, Long] {
    private var m = 0L
    override def isZero: Boolean = m == 0L
    override def copy(): MaxAccumulator = {
      val c = new MaxAccumulator; c.m = m; c
    }
    override def reset(): Unit = m = 0L
    override def add(v: Long): Unit = m = math.max(m, v)
    override def merge(o: org.apache.spark.util.AccumulatorV2[Long, Long])
        : Unit = m = math.max(m, o.value)
    override def value: Long = m
  }

  /** One sweep run's runtime observables (VERDICT r15 task 5 — the
    * kernel is a mapPartitions tier-(d) operator, not a SparkPlan, so
    * its instrumentation is NAMED ACCUMULATORS: they appear per-stage
    * in the Spark UI exactly like SQLMetrics do for exec nodes).
    * `rowsIn` counts sweep input rows INCLUDING ghosts (rowsIn −
    * input n = the measured ghost duplication the segFactor bought);
    * `segments` = sweep tasks' segment count; `maxSegmentRows` = the
    * largest segment any task swept (the per-task state bound —
    * tuples + Fenwick arrays are O(maxSegmentRows·types)). Accumulator
    * counts are task-retry-approximate, like every Spark metric —
    * display/diagnostic only, never correctness. */
  final case class SweepMetrics(
      rowsIn: org.apache.spark.util.LongAccumulator,
      segments: org.apache.spark.util.LongAccumulator,
      maxSegmentRows: MaxAccumulator)

  /** The most recent [[gridPairsExact]] call's accumulators (set at
    * plan-build time; values populate as the job runs). Diagnostic
    * hook for specs and REPL forensics — concurrent sweeps each keep
    * their own accumulators, this just points at the newest. */
  @volatile var lastRun: Option[SweepMetrics] = None

  /** Fenwick tree over 1-based ranks carrying (count, Σa, Σb). */
  private final class Bit(n: Int) {
    val cnt = new Array[Long](n + 1)
    val sa = new Array[Long](n + 1)
    val sb = new Array[Long](n + 1)
    def update(i0: Int, c: Long, a: Long, b: Long): Unit = {
      var i = i0
      while (i <= n) { cnt(i) += c; sa(i) += a; sb(i) += b; i += i & -i }
    }
    /** (count, Σa, Σb) over ranks [1, i0]. */
    def query(i0: Int): (Long, Long, Long) = {
      var i = i0; var c = 0L; var a = 0L; var b = 0L
      while (i > 0) { c += cnt(i); a += sa(i); b += sb(i); i -= i & -i }
      (c, a, b)
    }
  }

  private val outSchema = StructType(Seq(
    StructField("t1", StringType), StructField("t2", StringType),
    StructField("n_pairs", LongType), StructField("gap_us_sum", LongType),
    StructField("val_gap_sum", LongType)))

  /** One segment's sweep: `rows` sorted by (tsu, id); ghosts carry
    * real=false. Emits the segment's (t1,t2) partial aggregates. */
  private def sweepSegment(rows: Array[(Long, String, Long, Long, Boolean)],
                           T: Long, V: Long, tsuBase: Long)
      : Iterator[Row] = {
    val n = rows.length
    if (n == 0) return Iterator.empty
    // segment-local vc rank space (distinct vc values, sorted)
    val vcs = rows.map(_._4).distinct.sorted
    def rankLe(v: Long): Int = { // ranks whose vc <= v  (0 if none)
      var lo = 0; var hi = vcs.length
      while (lo < hi) { val m = (lo + hi) >>> 1
        if (vcs(m) <= v) lo = m + 1 else hi = m }
      lo
    }
    val rankOf = scala.collection.mutable.HashMap.empty[Long, Int]
    var i = 0
    while (i < vcs.length) { rankOf(vcs(i)) = i + 1; i += 1 }
    val bits = scala.collection.mutable.HashMap.empty[String, Bit]
    val acc = scala.collection.mutable.HashMap
      .empty[(String, String), Array[Long]]
    var lo = 0 // first row still inside the time window
    var b = 0
    while (b < n) {
      val (idB, tB, tsuB, vcB, real) = rows(b)
      // evict rows older than tsu_b - T
      while (lo < b && rows(lo)._3 < tsuB - T) {
        val (_, t, tsu, vc, _) = rows(lo)
        bits(t).update(rankOf(vc), -1L, -(tsu - tsuBase), -vc)
        lo += 1
      }
      if (real) {
        // query every type's tree over vc ∈ [vcB - V, vcB + V]
        val loR = rankLe(vcB - V - 1) // ranks strictly below the range
        val midR = rankLe(vcB)        // ranks with vc <= vcB
        val hiR = rankLe(vcB + V)
        bits.foreach { case (tA, bit) =>
          val (cLo, aLo, bLo) = bit.query(loR)
          val (cMid, aMid, bMid) = bit.query(midR)
          val (cHi, aHi, bHi) = bit.query(hiR)
          val kLe = cMid - cLo; val kGt = cHi - cMid
          val k = kLe + kGt
          if (k > 0) {
            val sumTsu = (aHi - aLo)
            val gap = k * (tsuB - tsuBase) - sumTsu
            val vg = (kLe * vcB - (bMid - bLo)) + ((bHi - bMid) - kGt * vcB)
            val key = if (tA <= tB) (tA, tB) else (tB, tA)
            val slot = acc.getOrElseUpdate(key, new Array[Long](3))
            slot(0) += k; slot(1) += gap; slot(2) += vg
          }
        }
      }
      // insert b (real or ghost) for later probes
      bits.getOrElseUpdate(tB, new Bit(vcs.length))
        .update(rankOf(vcB), 1L, tsuB - tsuBase, vcB)
      b += 1
    }
    acc.iterator.map { case ((t1, t2), s) => Row(t1, t2, s(0), s(1), s(2)) }
  }

  /** Fallback segment factor when no occupancy stats are measured
    * (the r13 fixed constant, kept as the documented anchor). */
  val DefaultSegFactor = 64

  /** Clamp range for [[autoSegFactor]]: the floor keeps ghost
    * duplication ≤ 1/16 = 6.25%; the ceiling keeps the costing
    * estimate honest under skew (a 4096·T segment that the uniform
    * estimate calls small can still hold a burst). */
  val MinSegFactor = 16
  val MaxSegFactor = 4096

  /** Per-segment working set the auto-sizer targets: tuples + Fenwick
    * arrays for targetRows ≈ low hundreds of MB per task — the same
    * envelope shuffle-partition sizing aims for. */
  val TargetSegmentRows = 2L * 1000 * 1000

  /** OCCUPANCY-DERIVED segment factor (VERDICT r13 task 6 — the
    * `adaptiveKeyCap` discipline applied to segment sizing: derive
    * the knob from measured stats instead of a fixed constant,
    * because a fixed constant does not bound work). One cheap agg
    * measures (n, time span); the expected rows in a segment of
    * width f·T is n·f·T/span under the uniform estimate, so
    *
    *   f_occupancy   = targetRows·span / (n·T)   (memory bound)
    *   f_parallelism = span / (T·4·cores)        (≥ 4 segments/core)
    *
    * and the factor is min of the two, clamped to
    * [[MinSegFactor]]..[[MaxSegFactor]]. On DENSE corpora f shrinks
    * below the r13 fixed 64 — deliberately: holding 64 as a hard
    * floor would let one segment outgrow task memory at exactly the
    * densities the sweep exists for (the fixed-cap lesson, third
    * occurrence); the real floor is [[MinSegFactor]], where ghost
    * duplication is still only 6.25%. On SPARSE corpora f grows
    * (fewer, fuller segments — less duplication), bounded by the
    * parallelism term so the sweep never collapses below ~4 tasks
    * per core.
    *
    * Measured occupancy at the scale fixtures (T = 900 s, the q216
    * band; events span the fixed 2024 year ≈ 3.15e13 µs):
    * sf1 ≈ 1.0M rows → ~29 rows per T-band, segment at f=64 ≈ 1.8k
    * rows; sf3 ≈ 3.1M rows → ~88 rows per T-band, f=64 segment ≈
    * 5.6k rows (~1 MB) — both far under target, so the auto factor
    * is parallelism-bounded (f ≈ 270 at 32 cores: ~128 segments of
    * ≈ 24k rows ≈ 4 MB at sf3, recorded for the task-memory
    * envelope). Round13Spec re-proves sweep ≡ pair join at the
    * derived factor. */
  def autoSegFactor(ev: DataFrame, T: Long,
                    targetRows: Long = TargetSegmentRows): Int = {
    require(T > 0, s"need T > 0 (got $T)")
    // n counts NON-NULL tsu only: NULL rows never enter a band, so
    // counting them would bias fOcc low; and a non-empty relation
    // whose tsu is all NULL has null min/max (ADVICE r14) — fall back
    // to the default factor instead of NPEing on Row.getLong.
    val r = ev.agg(count(col("tsu")), min(col("tsu").cast("long")),
      max(col("tsu").cast("long"))).head()
    val n = r.getLong(0)
    if (n == 0 || r.isNullAt(1) || r.isNullAt(2)) return DefaultSegFactor
    val span = math.max(1L, r.getLong(2) - r.getLong(1) + 1)
    val fOcc = targetRows.toDouble * span / (n.toDouble * T)
    val fPar = span.toDouble /
      (T.toDouble * 4 * ev.sparkSession.sparkContext.defaultParallelism)
    val f = math.min(fOcc, fPar)
    math.max(MinSegFactor.toLong,
      math.min(MaxSegFactor.toLong, f.toLong)).toInt
  }

  /** The exact sweep over `ev` (event_id, event_type, tsu, vc):
    * returns (t1, t2, n_pairs, gap_us_sum, val_gap_sum) — identical
    * values to the exact pair join, pairs never materialized.
    * `segFactor` = S/T (ghost duplication 1/segFactor; segment memory
    * grows with it); 0 = derive from measured occupancy via
    * [[autoSegFactor]] (the default since r14 — the result is
    * factor-invariant, only task memory and ghost volume move). */
  def gridPairsExact(ev: DataFrame, T: Long, V: Long,
                     segFactor: Int = 0): DataFrame = {
    require(T > 0 && V >= 0 && (segFactor == 0 || segFactor >= 2),
      s"need T > 0, V >= 0, segFactor 0 (auto) or >= 2 " +
        s"(got T=$T V=$V seg=$segFactor)")
    val f = if (segFactor == 0) autoSegFactor(ev, T) else segFactor
    val s = ev.sparkSession
    val S = f.toLong * T
    val base = ev.select(col("event_id").cast("long"),
      col("event_type").cast("string"), col("tsu").cast("long"),
      col("vc").cast("long"))
      .withColumn("seg", expr(s"(tsu - pmod(tsu, ${S}L)) div ${S}L"))
    val real = base.withColumn("real", lit(true))
    val ghosts = base.filter(expr(s"pmod(tsu, ${S}L) >= ${S - T}L"))
      .withColumn("seg", col("seg") + 1).withColumn("real", lit(false))
    val arranged = real.unionByName(ghosts)
      .repartition(col("seg"))
      .sortWithinPartitions("seg", "tsu", "event_id")
    // named accumulators — per-stage visible in the UI (see
    // [[SweepMetrics]]); registered fresh per call
    val sc = s.sparkContext
    val mRowsIn = sc.longAccumulator("graft.sweep2d.rowsIn")
    val mSegments = sc.longAccumulator("graft.sweep2d.segments")
    val mMaxSeg = new MaxAccumulator
    sc.register(mMaxSeg, "graft.sweep2d.maxSegmentRows")
    lastRun = Some(SweepMetrics(mRowsIn, mSegments, mMaxSeg))
    val partials = arranged.queryExecution.toRdd.mapPartitions { it =>
      // group consecutive rows by seg (sorted within the partition);
      // copy out of the reused InternalRow before buffering
      val rows = it.map { ir =>
        (ir.getLong(4), // seg
          (ir.getLong(0), ir.getUTF8String(1).toString, ir.getLong(2),
            ir.getLong(3), ir.getBoolean(5)))
      }.buffered
      new Iterator[Iterator[Row]] {
        def hasNext: Boolean = rows.hasNext
        def next(): Iterator[Row] = {
          val seg = rows.head._1
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(Long, String, Long, Long, Boolean)]
          while (rows.hasNext && rows.head._1 == seg) buf += rows.next()._2
          mRowsIn.add(buf.size.toLong)
          mSegments.add(1L)
          mMaxSeg.add(buf.size.toLong)
          // rebase tsu to the segment's ghost-band origin (never
          // negative: ghosts start at seg·S − T)
          val S2 = S // capture
          sweepSegment(buf.toArray, T, V, seg * S2 - T)
        }
      }.flatten
    }
    s.createDataFrame(partials, outSchema)
      .groupBy("t1", "t2")
      .agg(sum("n_pairs").as("n_pairs"),
        sum("gap_us_sum").as("gap_us_sum"),
        sum("val_gap_sum").as("val_gap_sum"))
  }
}
