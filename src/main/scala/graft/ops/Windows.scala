package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._

/** §2 group E — window functions. One shuffle by the partition key,
  * then a per-partition sort — the same cost shape as a reference
  * secondary-sort MapReduce job [H]. Running sums accumulate in exact
  * decimal so prefix sums are order-stable across engines. */
object Windows {

  val queries: Seq[Query] = Seq(
    /** q26: row_number/rank/dense_rank. rank windows order by a
      * tie-prone key (deterministic for rank/dense_rank); row_number
      * orders by a provably-unique key. */
    Query("q_win_rank",
      """SELECT o_orderkey, o_custkey, o_totalprice AS total,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
         rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus ASC) AS rnk,
         dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus ASC) AS drnk
         FROM orders ORDER BY o_orderkey""")((s, d) => {
      val wUnique = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val wTies = Window.partitionBy("o_custkey").orderBy(col("o_orderstatus").asc)
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("total"),
          row_number().over(wUnique).as("rn"),
          rank().over(wTies).as("rnk"),
          dense_rank().over(wTies).as("drnk"))
        .orderBy("o_orderkey")
    }),

    /** q27: running sum over an exact-decimal accumulator. */
    Query("q_win_running",
      """SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(sum(CAST(ROUND(o_totalprice,2) AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
         FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""")((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          dbl(sum(dec2(col("o_totalprice"))).over(w)).as("running"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    /** q28: lag/lead over the event stream per user. */
    Query("q_win_lag_lead",
      """SELECT event_id, user_id,
         lag(value, 1) OVER w AS prev_val,
         lead(event_type, 1) OVER w AS next_type,
         epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id""")((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("event_id"), col("user_id"),
          lag(col("value"), 1).over(w).as("prev_val"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
            .as("gap_us"))
        .orderBy("event_id")
    }),

    /** q29: top-k per group (PrIter-lineage prioritized top-k,
      * SURVEY.md §2 row 29): rank-filter, no global sort. */
    Query("q_topk_per_group",
      """SELECT o_custkey, rn, o_orderkey, total FROM (
           SELECT o_custkey, o_orderkey, o_totalprice AS total,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders
         ) t WHERE rn <= 3
         ORDER BY o_custkey, rn""")((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          col("o_totalprice").as("total"))
        .orderBy("o_custkey", "rn")
    }),

    /** q85: first_value / last_value / nth_value window functions
      * over the full partition frame (explicit ROWS UNBOUNDED
      * PRECEDING..UNBOUNDED FOLLOWING — the default RANGE..CURRENT
      * frame would make last_value degenerate). Raw 2-dp price
      * doubles pass through untouched (bit-identical on both
      * engines); nth_value(2) is NULL for single-order customers. */
    Query("q_win_first_last",
      """SELECT o_orderkey, o_custkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER w AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey""")((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy("o_orderkey")
    }),

    /** q162: WINDOW DISTRIBUTION FUNCTIONS — percent_rank + cume_dist
      * of each order's price within its priority class. Completes the
      * ranking-window family (q26 rank/dense_rank, q71 ntile) with the
      * two relative-position functions: percent_rank = (rank-1)/(n-1)
      * and cume_dist = |peers ≤ x| / n, each ONE IEEE division of two
      * exact integers, tie rows receiving identical values in both
      * engines. One window sort per priority partition — the same
      * shuffle any ranked window pays; nothing extra at 100 TB. */
    Query("q_win_cume_dist",
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
           percent_rank() OVER
             (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS pr,
           cume_dist() OVER
             (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS cd
         FROM orders WHERE o_custkey < 200
         ORDER BY o_orderpriority, o_orderkey""")((s, d) => {
      val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
      orders(s, d).filter(col("o_custkey") < 200)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    /** q184: NTH_VALUE / FIRST / LAST WINDOWS — the remaining value
      * window functions over an explicit full-partition frame (ROWS
      * UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING — last_value under the
      * default frame is the famous running-last footgun; the declared
      * row pins the explicit-frame semantics). Order key (price,
      * orderkey) is UNIQUE so both engines see one total order. Same
      * single window sort any ranked window pays. */
    Query("q_win_nth_value",
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
           nth_value(o_orderkey, 2) OVER w AS second_cheapest,
           first_value(o_orderkey) OVER w AS cheapest,
           last_value(o_orderkey) OVER w AS priciest
         FROM orders WHERE o_custkey < 200
         WINDOW w AS (PARTITION BY o_orderpriority
           ORDER BY o_totalprice, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderpriority, o_orderkey""")((s, d) => {
      val full = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, d).filter(col("o_custkey") < 200)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .withColumn("second_cheapest",
          nth_value(col("o_orderkey"), 2).over(full))
        .withColumn("cheapest", first(col("o_orderkey")).over(full))
        .withColumn("priciest", last(col("o_orderkey")).over(full))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    /** q200: NATIVE SESSION WINDOWS IN BATCH — Spark's
      * `session_window(ts, gap)` aggregate (the Structured-Streaming
      * session primitive, q59's engine) run as a BATCH plan and
      * hash-checked against the gaps-and-islands formulation q111
      * derives by hand: per (user, session) the event count, exact
      * session span in µs, and the session-start instant. Session
      * boundaries are a pure function of the event multiset (merge
      * 30-min-overlapping intervals), so the two formulations must
      * agree row for row — this pins the ENGINE's session-merge
      * semantics to the portable SQL definition, completing the
      * batch/stream symmetry story (same session_window call runs
      * under readStream in StreamingSpec). One user-keyed shuffle
      * like every sessionize. */
    Query("q_win_session_native",
      // q200's oracle: the same sessions derived by hand via
      // gaps-and-islands — session_window's engine-side interval merge
      // must reproduce the portable SQL definition exactly.
      s"""WITH e AS (
           SELECT user_id, ts, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts) AS prev_us
           FROM events
         ), flagged AS (
           SELECT user_id, ts, us,
             -- session_window extends a session through a gap of
             -- EXACTLY the gap duration (inclusive merge — verified by
             -- Round12bSpec's synthetic exact-gap case), matching
             -- q111's <= convention: break only on gap > 30 min
             CASE WHEN prev_us IS NULL
                    OR us - prev_us > ${Events.GapUs} THEN 1 ELSE 0 END AS brk
           FROM e
         ), grp AS (
           SELECT user_id, ts, us,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged
         )
         SELECT user_id, min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(us) - min(us) AS BIGINT) AS span_us
         FROM grp GROUP BY user_id, sid
         ORDER BY user_id, session_start""")((s, d) => {
      events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("span_us"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"), col("span_us"))
        .orderBy("user_id", "session_start")
    }),
    /** q71: distribution window functions — ntile/percent_rank/
      * cume_dist. The window orders by the unique o_orderkey, so rank
      * == row_number and both engines evaluate the same integer
      * ratios (one IEEE division each — D3-safe). */
    Query("q_win_ntile",
      """SELECT o_orderkey, o_custkey,
         ntile(4) OVER w AS nt,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_orderkey""")((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          ntile(4).over(w).as("nt"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderkey")
    }),

    /** q79: RANGE window frame over event TIME (not row counts) —
      * per-user rolling 1-hour event count and exact-decimal sum.
      * The frame bound is integer µs on both engines. */
    Query("q_win_range_frame",
      """SELECT event_id, user_id,
         CAST(count(*) OVER w AS BIGINT) AS n_1h,
         CAST(sum(CAST(ROUND(value,2) AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""")((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      events(s, d)
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          dbl(sum(dec2(col("value"))).over(w)).as("sum_1h"))
        .orderBy("event_id")
    }),

    /** q245: TIME-INTERVAL RANGE FRAME [T window surface] — per
      * event: count and exact cent sum of the SAME user's events in
      * the trailing ONE HOUR, via a RANGE frame bounded by a
      * calendar INTERVAL on the timestamp order — the time-based
      * frame q79's numeric RANGE cannot express without manual
      * epoch conversion. RANGE (not ROWS) makes tied timestamps
      * peers in both engines, so the frame content is deterministic
      * even under ts duplicates. One user-keyed exchange + sort. */
    Query("q_win_time_range",
      """SELECT event_id, user_id, ts,
                CAST(count(*) OVER w AS BIGINT) AS n_1h,
                CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w
                  AS BIGINT) AS cents_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
         ORDER BY event_id""")((s, d) => {
      events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * lit(100)).cast("long").as("cents"))
        .selectExpr("event_id", "user_id", "ts",
          """count(*) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
             AS n_1h""",
          """sum(cents) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
             AS cents_1h""")
        .orderBy("event_id")
    })
  )
}
