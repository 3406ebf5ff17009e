package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Memos, Query}
import graft.engine.Tables._
import graft.engine.Dec._
import graft.incr.{Delta, Maintain}

/** Event-stream analytics over `events` (user_id, event_id, ts, type):
  * funnels, retention cohorts, sessionization, pathing, dwell, streaks,
  * pattern matching and outlier days, each batch row beside its
  * incremental (`q_incr_*`) twin. A twin reads the delta split from
  * [[graft.incr.Delta]] and must equal its batch row recomputed over
  * the post-delta rows, so both share one kernel and one oracle.
  *
  * All oracle-checked rows follow D1–D7 (engine.Dec scaladoc). */
object Events {

  /** 30-minute session gap, in microseconds (events.ts is µs-aligned —
    * see Tables.events). Integer throughout: µs-since-epoch exceeds
    * double's mantissa, so all gap arithmetic stays in BIGINT. Every
    * sessionizing plan and oracle reads it from here. */
  private[ops] val GapUs = 1800L * 1000000L

  /** The gaps-and-islands step over any (user_id, event_id, ts, us)
    * frame: `idxCol` numbers each user's sessions in (ts, event_id)
    * order, a new session starting after a gap > [[GapUs]]. A running
    * sum over the same sort as the lag, so one shuffle+sort pass. */
  private[ops] def withSessionIdx(e: DataFrame, idxCol: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e.withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > GapUs,
          1L).otherwise(0L))
      .withColumn(idxCol, sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** The q111 session computation over any (user_id, event_id, ts, us)
    * frame — factored out so q116 can run it on the preserved and
    * recomputed partitions of the corpus separately ([[graft]]-visible
    * for the gap-boundary edge-case spec). */
  private[graft] def sessionsOf(e: DataFrame): DataFrame =
    withSessionIdx(e, "session_idx").groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        // integer div (not `/`): µs differences must never transit
        // an IEEE division — DuckDB's `//` is integral too
        expr("(max(us) - min(us)) div 1000000")
          .cast("bigint").as("duration_sec"))
      .select(col("user_id"), col("session_idx").cast("bigint").as("session_idx"),
        col("n_events"), col("session_start"), col("duration_sec"))

  /** GENERIC transition matrix (the q163 shape on caller columns):
    * per-`userCol` timeline ordered by (`tsCol`, `tieCol`), the
    * (`typeCol` → next) transition counts. One user-keyed window
    * sort; the aggregate is |types|²-bounded. Used by q163/q169 and
    * exposed on [[graft.Graft.transitionMatrix]]. */
  def transitionMatrix(ev: DataFrame, userCol: String, tsCol: String,
                       tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(tsCol, tieCol)
    ev.withColumn("next_type", lead(col(typeCol), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(typeCol, "next_type")
      .agg(count(lit(1)).as("n_transitions"))
  }

  private def transitionsOf(ev: DataFrame): DataFrame =
    transitionMatrix(ev, "user_id", "ts", "event_id", "event_type")

  /** GENERIC activity streaks (q172 on caller columns): per
    * `userCol`, islands of consecutive active days derived from
    * `tsCol` — (user, n_active_days, n_streaks, longest_streak). */
  def activityStreaks(ev: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy("day")
    ev.select(col(userCol), to_date(col(tsCol)).as("day")).distinct()
      .withColumn("dnum",
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
      .withColumn("grp", col("dnum") - row_number().over(w))
      .groupBy(userCol, "grp").agg(count(lit(1)).as("len"))
      .groupBy(userCol)
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
  }

  /** GENERIC contiguous pattern match: rows of `ev` anchoring a
    * strictly consecutive run of `pattern` values of `typeCol` in the
    * per-`keyCol` timeline ordered by (`tsCol`, `tieCol`). One
    * key-partitioned window exchange; `pattern.size − 1` leads. */
  def patternMatches(ev: DataFrame, keyCol: String, tsCol: String,
                     tieCol: String, typeCol: String,
                     pattern: Seq[String]): DataFrame = {
    require(pattern.nonEmpty)
    val w = Window.partitionBy(keyCol).orderBy(tsCol, tieCol)
    val pred = pattern.zipWithIndex.map { case (p, i) =>
      (if (i == 0) col(typeCol) else lead(col(typeCol), i).over(w)) === p
    }.reduce(_ && _)
    ev.withColumn("__match", pred).filter(col("__match")).drop("__match")
  }

  /** The cut of the event-log twins' [[Delta.cut]]: events before it
    * are the base, events from it on the inserts. */
  private val Cut = "2024-01-20"

  /** That signed delta as a SQL relation: base events with
    * event_id % 10 == 1 retracted, events from the cut on inserted. The
    * post-delta log the cut-delta twins' oracles recompute their batch
    * row over. */
  private val PostCutSql = "(SELECT * FROM events WHERE NOT " +
    s"(ts < TIMESTAMP '$Cut' AND event_id % 10 = 1))"

  /** q111's oracle over the event relation `rel`; q116 and q140 check
    * against the same SQL over their post-delta logs. */
  private def sessionizeSql(rel: String): String =
    s"""WITH e AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM $rel
         ), flagged AS (
           SELECT user_id, event_id, ts, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > $GapUs
                  THEN 1 ELSE 0 END AS new_s
           FROM e
         ), sess AS (
           SELECT user_id, event_id, ts, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
           FROM flagged
         )
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_sec
         FROM sess GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx"""

  /** q163's oracle over the event relation `rel`. */
  private def pathingSql(rel: String): String =
    s"""WITH nxt AS (
           SELECT user_id, event_type,
             lead(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
           FROM $rel
         )
         SELECT event_type, next_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM nxt WHERE next_type IS NOT NULL
         GROUP BY event_type, next_type
         ORDER BY event_type, next_type"""

  /** q172's oracle over the event relation `rel`. */
  private def streaksSql(rel: String): String =
    s"""WITH d AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM $rel
         ), g AS (
           SELECT user_id,
             CAST(day - DATE '2024-01-01' AS BIGINT)
               - CAST(row_number() OVER
                   (PARTITION BY user_id ORDER BY day) AS BIGINT) AS grp
           FROM d
         ), i AS (
           SELECT user_id, grp, count(*) AS len FROM g GROUP BY user_id, grp
         )
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak
         FROM i GROUP BY user_id ORDER BY user_id"""

  /** q211's oracle over the event relation `rel`. */
  private def patternSql(rel: String): String =
    s"""WITH seq AS (
           SELECT user_id, event_type, ts,
                  lead(event_type, 1) OVER w AS e1,
                  lead(event_type, 2) OVER w AS e2
           FROM $rel
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         )
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches,
                CAST(min(epoch_us(ts)) AS BIGINT) AS first_match_us
         FROM seq
         WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'
         GROUP BY user_id ORDER BY user_id"""

  val queries: Seq[Query] = Seq(

    /** q88: conversion funnel over the event stream — per user the
      * earliest view / click-after-view / purchase-after-that, then
      * one global row of stage counts. Strict `>` comparisons on
      * min-timestamps are evaluated identically by both engines (µs
      * timestamps, D4). One partial-agg shuffle on user_id, then a
      * single-row final agg. */
    Query("q_events_funnel",
      """WITH m AS (
           SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view') AS tv,
             min(ts) FILTER (WHERE event_type = 'click') AS tc,
             min(ts) FILTER (WHERE event_type = 'purchase') AS tp
           FROM events GROUP BY user_id
         )
         SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (WHERE tv IS NOT NULL) AS BIGINT) AS n_view,
           CAST(count(*) FILTER (WHERE tv IS NOT NULL AND tc > tv) AS BIGINT)
             AS n_click_after_view,
           CAST(count(*) FILTER (WHERE tv IS NOT NULL AND tc > tv
             AND tp > tc) AS BIGINT) AS n_full
         FROM m""")((s, d) => {
      val stage = events(s, d).groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ts"))).as("tv"),
          min(when(col("event_type") === "click", col("ts"))).as("tc"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      stage.agg(
        count(lit(1)).as("n_users"),
        count(when(col("tv").isNotNull, lit(1))).as("n_view"),
        count(when(col("tv").isNotNull && col("tc") > col("tv"), lit(1)))
          .as("n_click_after_view"),
        count(when(col("tv").isNotNull && col("tc") > col("tv")
          && col("tp") > col("tc"), lit(1))).as("n_full"))
    }),

    /** q173: TIME-WINDOWED FUNNEL — q88's funnel with the conversion
      * CLOCK: per user, the first view, the first purchase at or
      * after it, and whether conversion landed inside 30 minutes
      * (1800000000 µs — integer µs comparison, no float). min() over
      * timestamps is deterministic; non-converting viewers keep a
      * NULL purchase and conv_30m = 0, identical on both engines.
      * Two filtered partial aggregates + one user-keyed join — the
      * conversion-window analytics shape at any scale. */
    Query("q_events_funnel_window",
      """WITH v AS (
           SELECT user_id, min(ts) AS first_view FROM events
           WHERE event_type = 'view' GROUP BY user_id
         ), p AS (
           SELECT v.user_id, v.first_view, min(e.ts) AS first_purchase
           FROM v LEFT JOIN events e
             ON e.user_id = v.user_id AND e.event_type = 'purchase'
            AND e.ts >= v.first_view
           GROUP BY v.user_id, v.first_view
         )
         SELECT user_id, first_view, first_purchase,
           CAST(CASE WHEN first_purchase IS NOT NULL
             AND epoch_us(first_purchase) - epoch_us(first_view)
                 <= 1800000000
             THEN 1 ELSE 0 END AS BIGINT) AS conv_30m
         FROM p ORDER BY user_id""")((s, d) => {
      val ev = events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("first_view"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      v.join(p, col("user_id") === col("p_user") &&
          col("p_ts") >= col("first_view"), "left")
        .groupBy("user_id", "first_view")
        .agg(min(col("p_ts")).as("first_purchase"))
        .withColumn("conv_30m",
          when(col("first_purchase").isNotNull &&
            unix_micros(col("first_purchase")) -
              unix_micros(col("first_view")) <= 1800000000L, 1L)
            .otherwise(0L))
        .orderBy("user_id")
    }),

    /** q89: cohort retention — users grouped by first-activity day,
      * activity counted per (cohort_day, activity_day). The distinct
      * user-day projection makes the final count a plain count(*) —
      * one distinct shuffle + one agg shuffle, no count-distinct
      * expansion. DATE output on both engines (DuckDB date_trunc
      * 'day' yields DATE). */
    Query("q_retention_cohort",
      """WITH ev AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS activity_day
           FROM events
         ), coh AS (
           SELECT user_id, min(activity_day) AS cohort_day
           FROM ev GROUP BY user_id
         )
         SELECT cohort_day, activity_day,
           CAST(count(*) AS BIGINT) AS n_users
         FROM ev JOIN coh USING (user_id)
         GROUP BY cohort_day, activity_day
         ORDER BY cohort_day, activity_day""")((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"),
          date_trunc("day", col("ts")).cast("date").as("activity_day"))
        .distinct()
      val coh = ev.groupBy("user_id")
        .agg(min(col("activity_day")).as("cohort_day"))
      ev.join(coh, "user_id")
        .groupBy("cohort_day", "activity_day")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "activity_day")
    }),
    /** q111: BATCH sessionization — the gap-based session assignment
      * (new session when >30 min since the user's previous event),
      * the batch twin of q59's streaming session windows. Two window
      * functions over the SAME (user_id; ts, event_id) sort — Spark
      * evaluates both in one shuffle+sort pass — then a per-session
      * aggregate. At 100 TB the only heavy operation is that single
      * user-keyed sort; the session aggregate rides map-side partials.
      * Ties on ts are broken by the unique event_id, so the running
      * sum (and therefore every session boundary) is deterministic. */
    Query("q_events_sessionize", sessionizeSql("events"))((s, d) => {
      sessionsOf(events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("us")))
        .orderBy("user_id", "session_idx")
    }),

    /** q116: INCREMENTAL sessionization [P §3/§6 applied to q111] —
      * the change-propagation shape for an append-only event log:
      * users with NO delta events keep their preserved sessions (in
      * production read back from the q103-style partials store, here
      * recomputed from the base partition to stay self-contained);
      * users touched by the delta are recomputed from their FULL
      * history — sessionization is user-local, so the affected set is
      * exactly the delta's user set and the re-sort is delta-user-
      * sized, never corpus-sized. Oracle = q111's FULL sessionize SQL:
      * incremental maintenance must be result-invisible. */
    Query("q_incr_sessionize", sessionizeSql("events"))((s, d) => {
      val cut = lit(Cut).cast("timestamp")
      val ev = events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("us"))
      val delta = Delta(ev, col("ts") < cut, col("ts") >= cut, lit(false))
      Maintain.groupRecompute(delta.base, delta.post, Seq("user_id"),
          delta.touchedKeys("user_id"))(sessionsOf)
        .orderBy("user_id", "session_idx")
    }),

    /** q140: incremental sessionization under a SIGNED delta [P §3] —
      * q116 completed with the '-' half. The delta is inserts (events
      * at ts >= the cut) AND deletions (base events with event_id %
      * 10 == 1 retract — the late-arriving "user deleted their
      * activity" / GDPR-erasure shape an event pipeline must absorb).
      * Sessionization is user-local, so the affected set is exactly
      * the union of the delta's user sets: untouched users' sessions
      * pass through (production: read back from the partials store),
      * touched users re-sessionize from their post-delta history —
      * the [P §3] group-level recompute with user = group. Deletions
      * can SPLIT a session (removing the bridging event) or merge
      * session indexes — re-running the group is the only rule
      * consistent with the gap semantics. Oracle = q111's full
      * sessionize SQL over the post-delta event log: signed
      * maintenance must be result-invisible. */
    Query("q_incr_sessionize_delete", sessionizeSql(PostCutSql))((s, d) => {
      val cut = lit(Cut).cast("timestamp")
      val ev = events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("us"))
      val delta = Delta.cut(ev, col("ts") < cut, "event_id")
      // the event log's only exchanges are the two sessionize sorts
      // (PlanSpec-asserted): the affected set broadcasts
      Maintain.groupRecompute(delta.base, delta.post, Seq("user_id"),
          delta.touchedKeys("user_id"))(sessionsOf)
        .orderBy("user_id", "session_idx")
    }),

    /** q163: EVENT PATHING — the user-journey transition matrix:
      * for each (event_type -> next event_type) step observed in any
      * user's timeline, the number of transitions and of distinct
      * users taking it. The per-user next step is lead() over the
      * user's (ts, event_id) order — ONE user-keyed window sort (the
      * sessionize shuffle, reused shape), then a tiny
      * |types|²-bounded aggregate. The product analytics primitive
      * behind funnels (q88) generalized to ALL pairs. Integer
      * counts end to end. */
    Query("q_events_pathing", pathingSql("events"))((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n_transitions"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("event_type", "next_type")
    }),

    /** q169: SIGNED INCREMENTAL PATHING [P §3] — q163's transition
      * matrix maintained under the event-family signed delta (inserts
      * = ts ≥ the cut, deletes = base events with event_id % 10 == 1,
      * the q140 shape). Transitions are USER-LOCAL, so the matrix is
      * a sum of per-user contributions and the group-level recompute
      * rule applies with user = group: the STORED matrix (production:
      * read back from the partials store) absorbs the delta as
      *   matrix_post = stored − contrib_base(affected)
      *                        + contrib_post(affected)
      * merged by SIGNED counts — the i2MapReduce '+/−' pair shape on
      * the (event_type, next_type) key. Deletion can re-link a user's
      * neighbors into a transition that never existed in the base
      * (the bridging-event argument from sessionize), which is why
      * the affected users re-derive from their full post-delta
      * timeline rather than patching edges. Delta-proportional: only
      * affected users' timelines are re-sorted; untouched users never
      * leave the stored aggregate. Oracle = the full lead-window
      * recompute over the post-delta log: signed maintenance must be
      * result-invisible. */
    Query("q_incr_pathing", s"""SELECT event_type, next_type, n_transitions
         FROM (${pathingSql(PostCutSql)})
         ORDER BY event_type, next_type""")((s, d) => {
      val cut = lit(Cut).cast("timestamp")
      val ev = events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"))
      val delta = Delta.cut(ev, col("ts") < cut, "event_id")
      val affected = broadcast(delta.touchedKeys("user_id"))
      def touchedTransitions(rows: DataFrame) =
        transitionsOf(rows.join(affected, Seq("user_id"), "left_semi"))
      // the STORED matrix — session-memoized like the rest of the
      // stored-state family (production reads it from the partials
      // store; it is immutable for a given base corpus)
      val stored = Memos.frame(s, d, "events/transBase") {
        val t = transitionsOf(delta.base).persist(); t.count(); t
      }
      Maintain.signedMerge(Seq("event_type", "next_type"), Seq("n_transitions"),
          Seq(stored, touchedTransitions(delta.post)),
          Seq(touchedTransitions(delta.base)))(col("n_transitions") > 0)
        .orderBy("event_type", "next_type")
    }),

    /** q167: DWELL-TIME ANALYTICS — per event type, how long users
      * linger before their next action: transition count, exact
      * BIGINT total wait in µs, max wait, and mean wait as ONE IEEE
      * division of the exact sum by the exact count. The same
      * user-keyed window sort as pathing/sessionize; integer µs
      * arithmetic end to end, so partial-aggregation order cannot
      * perturb anything. */
    Query("q_events_dwell",
      """WITH e AS (
           SELECT event_type, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
           FROM events
         ), w AS (
           SELECT event_type, next_us - us AS wait_us
           FROM e WHERE next_us IS NOT NULL
         )
         SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(wait_us) AS BIGINT) AS total_wait_us,
           CAST(max(wait_us) AS BIGINT) AS max_wait_us,
           CAST(sum(wait_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS mean_wait_us
         FROM w GROUP BY event_type ORDER BY event_type""")((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .withColumn("wait_us", col("next_us") - col("us"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("wait_us")).as("total_wait_us"),
          max(col("wait_us")).as("max_wait_us"),
          avgd(sum(col("wait_us")), count(lit(1))).as("mean_wait_us"))
        .orderBy("event_type")
    }),

    /** q172: ACTIVITY STREAKS (gaps-and-islands) — per user, the
      * runs of CONSECUTIVE active days: total active days, number of
      * streaks, longest streak. The classic islands derivation —
      * day-number minus per-user row_number is constant within an
      * island — done per user, so each user's tiny distinct-day list
      * sorts locally; nothing is globally ordered at 100 TB. Integer
      * day arithmetic (datediff from a fixed epoch), UTC dates both
      * sides (session pinned / DuckDB naive). */
    Query("q_events_streaks", streaksSql("events"))((s, d) =>
      activityStreaks(events(s, d), "user_id", "ts").orderBy("user_id")),

    /** q176: SIGNED INCREMENTAL STREAKS [P §3] — q172 maintained
      * under the event-family signed delta (q140 shape). Streaks are
      * user-local like sessions, so the group-level recompute rule
      * applies verbatim: untouched users' streak rows pass through
      * (production: from the partials store), touched users re-derive
      * from their post-delta timeline — deletion can SPLIT a streak
      * (removing the bridging day), insertion can FUSE two (filling
      * the gap day), so per-user re-derivation is the only rule
      * consistent with island semantics. Oracle = q172's islands SQL
      * over the post-delta log: maintenance must be
      * result-invisible. */
    Query("q_incr_streaks", streaksSql(PostCutSql))((s, d) => {
      val cut = lit(Cut).cast("timestamp")
      val ev = events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
      val delta = Delta.cut(ev, col("ts") < cut, "event_id")
      Maintain.groupRecompute(delta.base, delta.post, Seq("user_id"),
        delta.touchedKeys("user_id"))(activityStreaks(_, "user_id", "ts"))
        .orderBy("user_id")
    }),

    /** q211: CONTIGUOUS EVENT-PATTERN MATCH [T sequence analytics] —
      * the MATCH_RECOGNIZE-shaped primitive completing the sequence
      * family: q163 counts single transitions, q88 allows gaps
      * (subsequence funnel); this row finds STRICTLY CONSECUTIVE
      * view→click→purchase triples in each user's (ts, event_id)
      * timeline via two leads over ONE user-keyed window exchange.
      * Per matching user: match count + the µs instant of the first
      * match's anchor (exact integers). */
    Query("q_events_pattern", patternSql("events"))((s, d) =>
      patternMatches(events(s, d), "user_id", "ts", "event_id",
          "event_type", Seq("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_matches"),
          min(unix_micros(col("ts"))).as("first_match_us"))
        .orderBy("user_id")),

    /** q218: SIGNED-INCREMENTAL PATTERN COUNTS [P] — q211 maintained
      * under the event delta by the generic group-recompute rule:
      * contiguous-match counts are per-user functions of that user's
      * timeline alone (deleting an event can create or destroy
      * matches around it, but only WITHIN its user), so untouched
      * users pass through and the broadcast affected-user set
      * re-derives from post-delta timelines. Oracle = batch q211
      * over the post-delta corpus. */
    Query("q_incr_pattern",
      patternSql("(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(events(s, d), "event_id")
      def derive(e: DataFrame) =
        patternMatches(e, "user_id", "ts", "event_id", "event_type",
            Seq("view", "click", "purchase"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_matches"),
            min(unix_micros(col("ts"))).as("first_match_us"))
      Maintain.groupRecompute(delta.base, delta.post, Seq("user_id"),
          delta.touchedKeys("user_id"))(derive)
        .orderBy("user_id")
    }),

    /** q217: INTEGER OUTLIER DETECTION [N data-quality] — per-user
      * burst days: a day is an outlier when its event count exceeds
      * 3× the user's MEAN daily count over active days — stated as
      * cnt_d · n_days > 3 · total, a pure BIGINT cross-multiplication
      * (no float mean, no float compare, both engines decide
      * identically). Output per user: active days, outlier days, max
      * day count. Two aggregates over one user-keyed exchange; at
      * 100 TB the day-count relation is |users|·|days|-bounded. */
    Query("q_events_outlier_days",
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
           FROM events GROUP BY 1, 2
         ), tot AS (
           SELECT user_id, count(*) AS n_days_active,
                  sum(cnt) AS total, max(cnt) AS max_day_count
           FROM daily GROUP BY 1
         )
         SELECT d.user_id,
                CAST(t.n_days_active AS BIGINT) AS n_days_active,
                CAST(count(*) FILTER (d.cnt * t.n_days_active >
                  t.total * 3) AS BIGINT) AS n_outlier_days,
                CAST(t.max_day_count AS BIGINT) AS max_day_count
         FROM daily d JOIN tot t ON t.user_id = d.user_id
         GROUP BY d.user_id, t.n_days_active, t.max_day_count
         ORDER BY d.user_id""")((s, d) => {
      val daily = events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      daily.groupBy("user_id")
        .agg(count(lit(1)).as("n_days_active"),
          sum(col("cnt")).as("total"),
          max(col("cnt")).as("max_day_count"))
        .join(daily, "user_id")
        .groupBy(col("user_id"), col("n_days_active"),
          col("max_day_count"))
        .agg(count(when(col("cnt") * col("n_days_active") >
          col("total") * 3, lit(1))).as("n_outlier_days"))
        .select(col("user_id"), col("n_days_active"),
          col("n_outlier_days"), col("max_day_count"))
        .orderBy("user_id")
    })
  )
}
