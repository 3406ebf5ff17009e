package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Memos, Query}
import graft.engine.Tables._
import graft.engine.Dec._
import graft.incr.Delta

/** The STORAGE-LAYOUT family (SURVEY §2 rows 157-158, 242, 249 —
  * consolidated r13 from the former Round11/Round12h modules as a
  * pure move, same keys/plans/hashes): bucketed co-location (q157),
  * hive partition pruning (q158), Z-order clustering (q242) and its
  * signed-incremental maintenance (q249). Together with dynamic
  * partition pruning (q223, Analytics) and compaction (q186) this is
  * the engine's 100 TB read-layout story. Each layout is written ONCE
  * per (session, fixture) — stored layout, not per-query scratch;
  * paths carry the Spark application id so concurrent processes never
  * share a directory. */
object Layout {

  /** Bucketed orders/customer tables (8 buckets on the join key,
    * sorted within buckets), registered in the session catalog —
    * the co-located layout for repeated big⋈big joins. Returns the
    * (orders, customer) table names. */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val suffix = Integer.toHexString(d.hashCode)
    val (ordT, custT) = (s"g157_ord_$suffix", s"g157_cust_$suffix")
    Memos.value(s, d, "layout/bucketed") {
      val root = Memos.scratchDir(s, d, "r11")
      s.sql(s"DROP TABLE IF EXISTS $ordT")
      s.sql(s"DROP TABLE IF EXISTS $custT")
      orders(s, d).write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$root/ord_b").mode("overwrite").saveAsTable(ordT)
      customer(s, d).write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$root/cust_b").mode("overwrite").saveAsTable(custT)
      "done"
    }
    (ordT, custT)
  }

  /** Hive-partitioned (day=...) copy of events — the partition-pruned
    * read layout. Returns its path. */
  private def partitionedEvents(s: SparkSession, d: String): String =
    Memos.value(s, d, "layout/evByDay") {
      val path = s"${Memos.scratchDir(s, d, "r11")}/ev_by_day"
      events(s, d).withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(path)
      path
    }

  // ================================================================
  // former Round12h module (Z-order layout; merged r13, pure move)
  // ================================================================

  /** Round-12 batch 12 (SURVEY §2 row 242): Z-ORDER clustered layout —
    * the multi-dimensional data-skipping member of the layout family
    * (hive partition pruning q158, dynamic partition pruning q223,
    * bucketed co-location q157, small-file compaction q186). Facts are
    * written partitioned by the Morton (bit-interleaved) code of the
    * two query dimensions; a 2-D box predicate then prunes to exactly
    * the partitions whose Z-cell rectangle intersects the box — the
    * mechanism behind Delta/Iceberg OPTIMIZE ZORDER, expressed with
    * stock Spark partitioned writes.
    *
    * The reference tree at /root/reference is absent (SURVEY.md §0);
    * semantics follow SURVEY §2 row 242.
    */

  /** The box's candidate Z cells under `stats` (the rectangle of
    * bucket coordinates, Morton-encoded — O(cells), never a scan). */
  private def boxCells(stats: (Long, Int, Int)): Seq[Int] = {
    val (maxU, minD, maxD) = stats
    val uxs = (uLo * 16 / (maxU + 1)).toInt to
      (uHi * 16 / (maxU + 1)).toInt
    val dxs = ((dnumOf(dayLo) - minD) * 16 / (maxD - minD + 1)) to
      ((dnumOf(dayHi) - minD) * 16 / (maxD - minD + 1))
    (for { x <- uxs; y <- dxs } yield zOf(x, y)).distinct
  }

  /** Cell-pruned scan + exact box predicate + aggregate — shared by
    * the batch (q242) and maintained (q249) layouts. */
  private def boxQuery(s: SparkSession, scratch: String,
                       stats: (Long, Int, Int)): DataFrame =
    s.read.parquet(scratch)
      .filter(col("zb").isin(boxCells(stats): _*))
      .filter(col("user_id").between(uLo, uHi) &&
        to_date(col("ts")).between(lit(dayLo), lit(dayHi)))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(floor(col("value") * lit(100)).cast("long"))
          .as("value_cents_sum"))

  /** Morton interleave of two 4-bit cell coordinates → 8-bit Z code
    * (driver-side mirror of [[zCol]]; used to enumerate the
    * candidate cells of a query box). Coordinates outside [0,15]
    * (possible in [[zorderMaintain]] when inserts land beyond the
    * pinned base stats range) are CLAMPED to the nearest edge cell —
    * a documented edge-cell merge, so out-of-range data degrades
    * pruning locality at the boundary instead of aliasing into
    * unrelated interior cells (round-12 advice). Correctness is
    * unaffected either way: boxQuery re-applies the exact predicate. */
  def zOf(ux: Int, dx: Int): Int = {
    val (u, d) = (ux.max(0).min(15), dx.max(0).min(15))
    (0 until 4).map(i =>
      (((u >> i) & 1) << (2 * i + 1)) | (((d >> i) & 1) << (2 * i))).sum
  }

  /** Column form of [[zOf]] (same edge-cell clamp). */
  def zCol(ux: Column, dx: Column): Column = {
    val (u, d) = (least(greatest(ux, lit(0)), lit(15)),
      least(greatest(dx, lit(0)), lit(15)))
    (0 until 4).map(i =>
      shiftleft(shiftright(u, i).bitwiseAND(lit(1)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(d, i).bitwiseAND(lit(1)), 2 * i)))
      .reduce(_.bitwiseOR(_))
  }

  /** The fixed 2-D query box (chosen non-empty at every fixture SF:
    * users 0..14 exist even at sf0.001; days are always Jan 2024). */
  private val (uLo, uHi) = (3L, 8L)
  private val (dayLo, dayHi) = ("2024-01-08", "2024-01-21")
  private def dnumOf(day: String): Int =
    java.time.LocalDate.parse(day).toEpochDay.toInt

  /** Attach the Z cell to `ev` under fixed normalization stats and
    * write it partitioned by the cell. `dynamic = true` overwrites
    * ONLY the partitions present in `ev` (the maintenance mode);
    * `false` overwrites the whole root (the build mode). */
  def zorderWrite(ev: DataFrame, stats: (Long, Int, Int),
                  scratch: String, dynamic: Boolean): Unit = {
    val (mu, lo, hi) = stats
    val w = ev
      .withColumn("dnum", datediff(to_date(col("ts")), lit("1970-01-01")))
      .withColumn("ux", expr(s"CAST(user_id * 16 DIV ${mu + 1} AS INT)"))
      .withColumn("dx",
        expr(s"CAST((dnum - $lo) * 16 DIV ${hi - lo + 1} AS INT)"))
      .withColumn("zb", zCol(col("ux"), col("dx")))
      .drop("ux", "dx", "dnum")
      .write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("zb").parquet(scratch)
  }

  /** ONE-STEP LAYOUT MAINTENANCE: rewrite exactly the touched Z
    * cells from post-delta facts (dynamic partition overwrite), and
    * DELETE cells the delta emptied (dynamic overwrite only rewrites
    * partitions present in the new data — an emptied cell would
    * otherwise keep its stale files). Untouched cells' FILES pass
    * through unread and unwritten — the signed-incremental rule
    * applied to storage layout. `touched` is the delta's cell set
    * (≤256, driver-enumerable by construction). */
  def zorderMaintain(s: SparkSession, scratch: String, post: DataFrame,
                     touched: Seq[Int], stats: (Long, Int, Int)): Unit = {
    val (mu, lo, hi) = stats
    val touchedRows = post
      .withColumn("dnum", datediff(to_date(col("ts")), lit("1970-01-01")))
      .withColumn("ux", expr(s"CAST(user_id * 16 DIV ${mu + 1} AS INT)"))
      .withColumn("dx",
        expr(s"CAST((dnum - $lo) * 16 DIV ${hi - lo + 1} AS INT)"))
      .withColumn("zb", zCol(col("ux"), col("dx")))
      .filter(col("zb").isin(touched: _*))
      .drop("ux", "dx", "dnum")
    val present = touchedRows.select("zb").distinct()
      .collect().map(_.getInt(0)).toSet
    touchedRows.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("zb").parquet(scratch)
    val conf = s.sparkContext.hadoopConfiguration
    touched.filterNot(present).foreach { c =>
      val p = new org.apache.hadoop.fs.Path(s"$scratch/zb=$c")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Cell coordinates of arbitrary (user_id, ts) rows under fixed
    * stats — driver-enumerated (≤256 distinct cells). */
  def cellsOf(ev: DataFrame, stats: (Long, Int, Int)): Seq[Int] = {
    val (mu, lo, hi) = stats
    ev.select(
        expr(s"CAST(user_id * 16 DIV ${mu + 1} AS INT)").as("ux"),
        expr(s"CAST((datediff(to_date(ts), DATE '1970-01-01') - $lo)" +
          s" * 16 DIV ${hi - lo + 1} AS INT)").as("dx"))
      .distinct().collect()
      .map(r => zOf(r.getInt(0), r.getInt(1))).distinct.toSeq
  }

  /** The box oracle over any events relation — layout-invisible by
    * construction; rel-parameterized so q249's post-delta oracle is
    * built, not string-surgered. */
  def zorderSql(rel: String): String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS value_cents_sum
        FROM $rel
        WHERE user_id BETWEEN 3 AND 8
          AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
                                   AND DATE '2024-01-21'"""

  val queries: Seq[Query] = Seq(
    /** q157: co-located bucketed join as a DECLARED query — orders ⋈
      * customer on custkey over the 8-bucket layout, merge-join hinted
      * so the executed plan is the zero-exchange sort-merge join the
      * bucketing exists for (the hint, not a session-conf toggle,
      * because the driver executes this frame at action time, after
      * this function returned — conf set here would not apply).
      * ColocationSpec asserts the no-Exchange plan; the oracle hash
      * asserts the result equals the plain join-aggregate over the
      * parquet originals. At 100 TB this layout turns every repeated
      * custkey join from two corpus shuffles into a local merge. */
    Query("q_join_colocated",
      // q157's oracle is the PLAIN join-aggregate over the parquet
      // originals — the bucketed layout must be result-invisible.
      """SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""")((s, d) => {
      val (ordT, custT) = bucketedTables(s, d)
      s.table(ordT).hint("merge")
        .join(s.table(custT), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(dec2(col("o_totalprice")))).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    /** q158: partition-pruned scan as a DECLARED query — one day's
      * events read back from the hive-partitioned layout (the scan
      * touches exactly one day=... directory; PartitionPruneSpec
      * asserts the PartitionFilters plan), aggregated per event type.
      * Oracle = the same day filtered from the original events parquet
      * by timestamp range: pruning must be result-invisible. */
    Query("q_scan_partition_pruned",
      // q158's oracle filters the original events by the UTC day range —
      // partition pruning must be result-invisible.
      """SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
           AND ts <  TIMESTAMP '2024-01-06 00:00:00'
         GROUP BY event_type ORDER BY event_type""")((s, d) => {
      val path = partitionedEvents(s, d)
      s.read.parquet(path)
        .filter(col("day") === "2024-01-05")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    // former Round12h module rows: Z-order layout
    /** q242: Z-ORDER LAYOUT + 2-D BOX PRUNING [N scale path] —
      * events are written ONCE (session-memoized, appId-isolated
      * scratch) partitioned by the 8-bit Morton code of
      * (user-bucket, day-bucket), both dimensions normalized to 16
      * cells from data-derived stats (Z-order IS a data-dependent
      * layout). The query enumerates driver-side the ≤256 Z cells
      * whose rectangle intersects the box — O(cells), never a scan —
      * and reads only those partitions (static partition pruning on
      * the Z code), then applies the exact box predicate. At 100 TB
      * this is the difference between scanning the corpus and
      * scanning the box's Morton rectangle; the result is
      * layout-invisible (oracle = the plain filter). `Round12mSpec`
      * pins PartitionFilters-on-zb in the executed plan, candidate
      * strictness (<256), Morton bijectivity, and result ≡ unpruned
      * scan. */
    Query("q_scan_zorder", zorderSql("events"))((s, d) => {
      val scratch = s"${Memos.scratchDir(s, d, "r12h")}/zorder"
      val stats = Memos.value(s, d, "layout/zorder_stats") {
        val ev = events(s, d)
          .withColumn("dnum",
            datediff(to_date(col("ts")), lit("1970-01-01")))
        val r = ev.agg(max("user_id"), min("dnum"), max("dnum"))
          .collect()(0)
        (r.getLong(0), r.getInt(1), r.getInt(2))
      }
      Memos.value(s, d, "layout/zorder_build") {
        zorderWrite(events(s, d), stats, scratch, dynamic = false); true
      }
      boxQuery(s, scratch, stats)
    }),

    /** q249: SIGNED-INCREMENTAL Z-ORDER LAYOUT [P one-step
      * incremental, N scale path] — the incremental rule applied to
      * STORAGE: under the event delta, exactly the delta-touched
      * Morton cells rewrite from post-delta facts (dynamic partition
      * overwrite), cells the delta emptied are deleted, and every
      * untouched cell's FILES pass through unread and unwritten —
      * at 100 TB re-clustering cost is proportional to the delta's
      * cell footprint, not the corpus (the OPTIMIZE-ZORDER-
      * incremental a lakehouse table service runs). Normalization
      * stats are pinned to the BASE corpus — re-normalization is by
      * definition a rebuild. Oracle = the plain box filter over
      * post-delta ⇒ hash proves layout maintenance ≡ rebuild;
      * `Round12mSpec` additionally pins the file-level pass-through
      * (untouched cells' files byte-identical) and the emptied-cell
      * deletion on a constructed frame. */
    Query("q_incr_zorder", zorderSql(
      "(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) => {
      val scratch = s"${Memos.scratchDir(s, d, "r12h")}/zorder_incr"
      val delta = Delta.tenWay(events(s, d), "event_id")
      val stats = Memos.value(s, d, "layout/zorder_incr_stats") {
        val b = delta.base.withColumn("dnum",
          datediff(to_date(col("ts")), lit("1970-01-01")))
        val r = b.agg(max("user_id"), min("dnum"), max("dnum"))
          .collect()(0)
        (r.getLong(0), r.getInt(1), r.getInt(2))
      }
      Memos.value(s, d, "layout/zorder_incr_build") {
        zorderWrite(delta.base, stats, scratch, dynamic = false); true
      }
      Memos.value(s, d, "layout/zorder_incr_maint") {
        zorderMaintain(s, scratch, delta.post, cellsOf(delta.touched, stats),
          stats)
        true
      }
      boxQuery(s, scratch, stats)
    })
  )
}
