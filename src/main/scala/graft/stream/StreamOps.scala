package graft.stream

import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._

/** §2 group J — windowed stream processing over `events`. The declared
  * queries run the SAME logical plans in batch mode (oracle-checkable);
  * graft.stream.Streams exposes the streaming forms and the ScalaTest
  * suite proves batch/stream equivalence on MemoryStream.
  *
  * This is the Spark-native successor of the reference's MRBG-Store
  * [P §5]: framework-managed, group-keyed incremental state
  * (StateStore + watermark) instead of a hand-built chunk store. */
object StreamOps {

  val queries: Seq[Query] = Seq(
    /** q57: 1-hour tumbling windows per event type. */
    Query("q_stream_tumbling",
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
         count(*) AS n,
         CAST(sum(CAST(ROUND(value,2) AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
         FROM events
         GROUP BY date_trunc('hour', ts), event_type
         ORDER BY hour_start, event_type""")((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec2(col("value")))).as("val_sum"))
        .select(col("w.start").as("hour_start"), col("event_type"),
          col("n"), col("val_sum"))
        .orderBy("hour_start", "event_type")
    }),

    /** q58: 1-hour windows sliding every 30 minutes (each event lands
      * in exactly two windows; both grids are epoch-aligned). */
    Query("q_stream_sliding",
      """SELECT win_start, event_type, count(*) AS n FROM (
           SELECT event_type,
             unnest([tb - INTERVAL 30 MINUTE, tb]) AS win_start
           FROM (
             SELECT event_type,
               date_trunc('hour', ts)
                 + CASE WHEN minute(ts) >= 30
                   THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS tb
             FROM events
           ) g
         ) w
         GROUP BY win_start, event_type
         ORDER BY win_start, event_type""")((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("win_start"), col("event_type"), col("n"))
        .orderBy("win_start", "event_type")
    }),

    /** q59: session windows, 30-minute gap, per user. Integer-only
      * outputs (counts + µs durations) keep it hash-exact. */
    Query("q_stream_session",
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
           FROM events
         ),
         sessions AS (
           SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged
         ),
         per_session AS (
           SELECT user_id, sid, count(*) AS n_ev,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
           FROM sessions GROUP BY user_id, sid
         )
         SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           max(n_ev) AS max_sess_events,
           max(dur_us) AS max_dur_us
         FROM per_session GROUP BY user_id ORDER BY user_id""")((s, d) => {
      val perSession = events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_ev"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("dur_us"))
      perSession
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_ev")).as("n_events"),
          max(col("n_ev")).as("max_sess_events"),
          max(col("dur_us")).as("max_dur_us"))
        .orderBy("user_id")
    })
  )
}
