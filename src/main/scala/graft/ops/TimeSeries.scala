package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import graft.incr.{Delta, Maintain}
import graft.engine.Dec._

/** Time-series operators over `events`: forward-fill resampling,
  * exact-decimal EWMA and top movers, each batch row beside its
  * incremental twin.
  *
  * All oracle-checked rows follow D1–D7 (engine.Dec scaladoc). */
object TimeSeries {

  // ---------------------------------------------------------------
  // q202/q207 shared kernel: per-user daily forward-fill runs
  // ---------------------------------------------------------------

  /** GENERIC time-series resample + forward-fill, expressed as run
    * lengths instead of exploded days: per (user, day) the LAST
    * event's value (ties broken by the unique event_id) carries
    * forward until the next active day, so the per-user sum of the
    * daily forward-filled series over [min_day, max_day] equals
    * Σ last_of_day_value · run_len without materializing one row per
    * calendar day — the 100 TB shape (two window passes over one
    * user-keyed exchange; nothing explodes). Values enter as
    * floor(value·100) cents: one IEEE multiply of the parquet double
    * then an exact floor, bit-identical in both engines. */
  def ffillRuns(ev: DataFrame): DataFrame = {
    val pick = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val perDay = ev
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"),
        floor(col("value") * lit(100)).cast("long").as("val_c"))
    val timeline = Window.partitionBy("user_id").orderBy("day")
    perDay
      .withColumn("next_day", lead(col("day"), 1).over(timeline))
      .withColumn("run_len",
        when(col("next_day").isNull, lit(1L))
          .otherwise(datediff(col("next_day"), col("day")).cast("long")))
  }

  /** Per-user forward-fill summary over [[ffillRuns]]: span/active/gap
    * day counts plus the exact forward-filled cents sum. */
  def ffillSummary(ev: DataFrame): DataFrame =
    ffillRuns(ev).groupBy("user_id")
      .agg(
        (datediff(max(col("day")), min(col("day"))) + 1).cast("long")
          .as("days_span"),
        count(lit(1)).as("days_active"),
        ((datediff(max(col("day")), min(col("day"))) + 1).cast("long")
          - count(lit(1))).as("gap_days"),
        sum(col("val_c") * col("run_len")).as("ffill_sum"))
      .orderBy("user_id")

  /** Shared oracle body for q202/q207 — `where` narrows the events
    * relation (q202: all rows; q207: the post-delta corpus). */
  private def ffillSql(where: String): String =
    s"""WITH perday AS (
          SELECT user_id, day,
                 CAST(floor(value * 100) AS BIGINT) AS val_c
          FROM (SELECT user_id, value, event_id, CAST(ts AS DATE) AS day,
                       row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                         ORDER BY ts DESC, event_id DESC) AS rn
                FROM events $where) t
          WHERE rn = 1
        ), runs AS (
          SELECT user_id, day, val_c,
                 lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
          FROM perday
        )
        SELECT user_id,
          CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT) AS days_span,
          CAST(count(*) AS BIGINT) AS days_active,
          CAST(date_diff('day', min(day), max(day)) + 1 - count(*) AS BIGINT)
            AS gap_days,
          CAST(sum(val_c * (CASE WHEN next_day IS NULL THEN 1
                            ELSE date_diff('day', day, next_day) END))
               AS BIGINT) AS ffill_sum
        FROM runs GROUP BY user_id ORDER BY user_id"""

  /** The q287 EWMA kernel over any (event_id, user_id, ts, value)
    * frame — shared by the batch row and the signed-incremental twin
    * (whose untouched users pass through from stored state instead of
    * re-entering the window sort). No output ordering — callers sort. */
  private def ewmaOver(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = ev.select(col("event_id"), col("user_id"),
      col("ts"), (dec2(col("value")) * 100).cast("long").as("c0"))
    val withLags = (1 to 7).foldLeft(base)((df, k) =>
      df.withColumn(s"c$k", lag(col("c0"), k).over(w)))
    val num = (0 to 7)
      .map(k => coalesce(col(s"c$k"), lit(0L)) * lit(1L << (7 - k)))
      .reduce(_ + _)
    val den = (0 to 7)
      .map(k => when(col(s"c$k").isNotNull, lit(1L << (7 - k)))
        .otherwise(lit(0L)))
      .reduce(_ + _)
    withLags.select(col("event_id"), col("user_id"),
      (num.cast("double") / (den * 100).cast("double")).as("ewma"))
  }

  /** The q291 maintenance plan over any events-shaped frame
    * (event_id%10: 0=insert, 1=delete): the touched-group rule with
    * user = group — untouched users' series pass through from the base
    * state, touched users recompute their post-delta series. Public so the
    * spec can exercise the pass-through branch on a synthetic frame
    * (the driver fixture's delta touches every user). */
  def incrEwma(ev: DataFrame): DataFrame = {
    val delta = Delta.tenWay(ev, "event_id")
    Maintain.groupRecompute(delta.base, delta.post, Seq("user_id"),
      delta.touchedKeys("user_id"))(ewmaOver)
  }

  /** q287/q291 oracle body over a parameterized event source. */
  private def ewmaSql(src: String): String =
    s"""WITH e AS (
         SELECT event_id, user_id, ts,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c0
         FROM $src),
       l AS (
         SELECT event_id, user_id, c0,
           lag(c0, 1) OVER w AS c1, lag(c0, 2) OVER w AS c2,
           lag(c0, 3) OVER w AS c3, lag(c0, 4) OVER w AS c4,
           lag(c0, 5) OVER w AS c5, lag(c0, 6) OVER w AS c6,
           lag(c0, 7) OVER w AS c7
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT event_id, user_id,
         CAST(c0 * 128 + coalesce(c1, 0) * 64 + coalesce(c2, 0) * 32
            + coalesce(c3, 0) * 16 + coalesce(c4, 0) * 8
            + coalesce(c5, 0) * 4 + coalesce(c6, 0) * 2
            + coalesce(c7, 0) * 1 AS DOUBLE) /
         CAST((128 + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
             + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
             + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
             + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
             + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
             + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
             + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END) * 100
           AS DOUBLE) AS ewma
       FROM l ORDER BY event_id"""

  val queries: Seq[Query] = Seq(

    /** q202: TIME-SERIES RESAMPLE + FORWARD-FILL [N pipeline] — the
      * gap-fill operator every metrics/feature pipeline needs: each
      * user's event series resampled to daily grain over
      * [min_day, max_day], missing days carrying the last observed
      * value forward. Computed as RUN LENGTHS ([[ffillRuns]]) so no
      * calendar explosion ever materializes; per user the output pins
      * span/active/gap day counts and the exact forward-filled cents
      * sum (Σ run_len ≡ days_span makes the checksum
      * boundary-sensitive). Two window passes over ONE user-keyed
      * exchange. */
    Query("q_ts_resample", ffillSql(""))((s, d) => ffillSummary(events(s, d))),

    /** q207: SIGNED-INCREMENTAL FORWARD-FILL [P one-step incremental]
      * — q202 maintained under an event delta (event_id%10==0 insert,
      * ==1 delete; the standing doc-family convention) by the GENERIC
      * group-recompute rule ([[Maintain.groupRecompute]]):
      * forward-fill summaries are per-user functions of that user's
      * rows alone, so untouched users' stored rows pass through and
      * only the delta's user set re-derives from post-delta events —
      * delta-proportional, with the affected-user set broadcast.
      * Oracle = the batch q202 over the post-delta corpus, so the
      * hash proves maintenance ≡ recompute. */
    Query("q_incr_resample", ffillSql("WHERE event_id % 10 <> 1"))((s, d) => {
      val delta = Delta.tenWay(events(s, d), "event_id")
      Maintain.groupRecompute(delta.base, delta.post, Seq("user_id"),
          delta.touchedKeys("user_id"))(ffillSummary)
        .orderBy("user_id")
    }),

    /** q287: DYADIC EWMA over each user's event-value series [T
      * time-series surface] — an exponentially weighted moving
      * average with decay 1/2 over the last 8 observations,
      * ewma_t = Σ_{k=0..7} 2^{7−k}·x_{t−k} / (100·Σ_{k present}
      * 2^{7−k}): because the decay is DYADIC and the values are
      * exact cents (the fixture's 2-dp contract, Dec scaladoc), both
      * numerator and denominator are exact int64 sums of ≤ 8 terms in
      * a FIXED expression order — the only float operation is the
      * final single division, so the doubles match bitwise
      * cross-engine (the q127 discipline applied to a window).
      * Plan: ONE user-keyed window exchange computes all 8 lags in a
      * single Window node; at 100 TB this is the same sort-once
      * shape as q27/q28 — no iteration, no state. The truncation at
      * 8 lags bounds per-row work and loses < 2^-8 of the weight
      * mass vs the infinite EWMA. */
    // q287: exact-cent lags, dyadic weights, one final division.
    Query("q_ts_ewma", ewmaSql("events"))((s, d) => ewmaOver(events(s, d)).orderBy("event_id")),

    /** q291: SIGNED-INCREMENTAL EWMA [P group-level recompute] —
      * q287 maintained under the event delta (event_id%10: 0=insert,
      * 1=delete): the EWMA is USER-LOCAL (each row depends only on
      * its user's own prior events), so the window state cannot merge
      * additively but recomputes exactly per touched user — the
      * i²MapReduce reduce-group recompute with group = user. Users
      * with any delta event re-enter the window sort over their
      * post-delta series (delta-proportional: |touched users| ·
      * series length); every untouched user's rows PASS THROUGH from
      * the stored base state without re-sorting — at 100 TB the
      * maintenance cost tracks the delta's user footprint, not the
      * event corpus. Oracle = q287's batch EWMA over the post-delta
      * events: the hash proves maintenance ≡ recompute. Fixture
      * caveat (the q_incr_band precedent): the %10 delta touches
      * every user at ~66 events/user, so the declared row exercises
      * the all-recompute worst case; `Round18cSpec` drives the
      * pass-through branch on a synthetic frame where untouched
      * users exist. */
    Query("q_incr_ewma",
      // q291: the same batch EWMA over the post-delta events — the
      // user-level recompute + pass-through must be result-invisible.
      ewmaSql("(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) =>
      incrEwma(events(s, d)).orderBy("event_id")),

    /** q246: WEEK-OVER-WEEK TOP MOVERS [T time-series analytics] —
      * per ISO week and event type: this week's count, the previous
      * observed week's (lag over the contiguous weekly series), the
      * exact delta, and the rank of that delta within the week
      * (unique (delta desc, type) order) — the "what changed"
      * dashboard readout. Facts reduce to |weeks|·|types| in ONE
      * exchange; windows run on the dimension. First observed week
      * is excluded (no predecessor). */
    Query("q_ts_top_movers",
      """WITH weekly AS (
           SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                  event_type, count(*) AS n
           FROM events GROUP BY 1, 2
         ), lagged AS (
           SELECT week, event_type, n,
                  lag(n, 1) OVER (PARTITION BY event_type
                    ORDER BY week) AS prev_n
           FROM weekly
         )
         SELECT week, event_type, CAST(n AS BIGINT) AS n,
                CAST(prev_n AS BIGINT) AS prev_n,
                CAST(n - prev_n AS BIGINT) AS delta,
                CAST(rank() OVER (PARTITION BY week
                  ORDER BY n - prev_n DESC, event_type) AS INT) AS rnk
         FROM lagged WHERE prev_n IS NOT NULL
         ORDER BY week, rnk""")((s, d) => {
      val weekly = events(s, d)
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val wLag = Window.partitionBy("event_type").orderBy("week")
      val wRank = Window.partitionBy("week")
        .orderBy(col("delta").desc, col("event_type"))
      weekly.withColumn("prev_n", lag(col("n"), 1).over(wLag))
        .filter(col("prev_n").isNotNull)
        .withColumn("delta", col("n") - col("prev_n"))
        .withColumn("rnk", rank().over(wRank))
        .select(col("week"), col("event_type"), col("n"),
          col("prev_n"), col("delta"), col("rnk"))
        .orderBy("week", "rnk")
    })
  )
}
