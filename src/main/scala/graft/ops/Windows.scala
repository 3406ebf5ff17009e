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
    })
  )
}
