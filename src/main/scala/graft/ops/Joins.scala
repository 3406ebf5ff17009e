package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._

/** §2 group C — joins. The reference offers reduce-side joins (shuffle)
  * and map-side joins via the distributed cache [H]; here Catalyst/AQE
  * picks sort-merge vs broadcast from sizes, and `broadcast()` pins the
  * map-side case explicitly. At 100 TB: dims (region/nation/supplier/
  * customer) broadcast; only fact-fact joins shuffle, on their join
  * keys, so co-partitioned downstream aggs reuse the exchange. */
object Joins {

  val queries: Seq[Query] = Seq(
    /** q7: equi inner join (Projector ONE2MUL shape, paper [P §4]). */
    Query("q_join_inner",
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""")((s, d) => {
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("c_mktsegment"), col("o_totalprice").as("total"))
        .orderBy("o_orderkey")
    }),

    /** q8: explicit map-side/broadcast join — the Hadoop
      * distributed-cache join [H]. nation⋈region is tiny: broadcast. */
    Query("q_join_broadcast",
      """SELECT r_name, n_name, count(*) AS n,
         CAST(sum(CAST(ROUND(l_extendedprice,2) AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""")((s, d) => {
      val dim = supplier(s, d)
        .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("n_name"), col("r_name"))
      lineitem(s, d)
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n"), sumd2(col("l_extendedprice")).as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    /** q9: 5-way star join + agg (TPC-H Q5 shape). */
    Query("q_join_multiway",
      """SELECT n_name,
         CAST(ROUND(sum(CAST(ROUND(l_extendedprice,2) AS DECIMAL(18,2))
                  * CAST(ROUND(1 - l_discount,4) AS DECIMAL(8,4))), 4) AS DOUBLE) AS revenue,
         count(*) AS n
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name ORDER BY n_name""")((s, d) => {
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("n_name")
        .agg(dbl(sum(dec2(col("l_extendedprice"))
          * dec4s(lit(1) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("n_name")
    }),

    /** q10: left outer — keep customers without orders. */
    Query("q_join_left_outer",
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
         CAST(coalesce(sum(CAST(ROUND(o_totalprice,2) AS DECIMAL(18,2))), 0) AS DOUBLE) AS total
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey""")((s, d) => {
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"),
          dbl(coalesce(sum(dec2(col("o_totalprice"))),
            lit(0).cast("decimal(18,2)"))).as("total"))
        .orderBy("c_custkey")
    }),

    /** q11: full outer — per-user purchase vs view counts. */
    Query("q_join_full_outer",
      """SELECT coalesce(p.user_id, v.user_id) AS uid,
         coalesce(p.n, 0) AS n_purchase, coalesce(v.n, 0) AS n_view
         FROM (SELECT user_id, count(*) AS n FROM events
               WHERE event_type = 'purchase' GROUP BY user_id) p
         FULL OUTER JOIN
              (SELECT user_id, count(*) AS n FROM events
               WHERE event_type = 'view' GROUP BY user_id) v
         ON p.user_id = v.user_id
         ORDER BY uid""")((s, d) => {
      val ev = events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_uid")).agg(count(lit(1)).as("n_purchase"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("v_uid")).agg(count(lit(1)).as("n_view"))
      p.join(v, col("p_uid") === col("v_uid"), "full_outer")
        .select(coalesce(col("p_uid"), col("v_uid")).as("uid"),
          coalesce(col("n_purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("n_view"), lit(0L)).as("n_view"))
        .orderBy("uid")
    }),

    /** q12: left semi = EXISTS. */
    Query("q_join_semi",
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         ORDER BY c_custkey""")((s, d) => {
      customer(s, d)
        .join(orders(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    /** q13: left anti = NOT EXISTS (customers with no orders). */
    Query("q_join_anti",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""")((s, d) => {
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy("c_custkey")
    }),

    /** q14: theta join — equi key + range residual on quantity vs
      * part size. Equi part shuffles/broadcasts; residual is a post-
      * join filter, so no nested-loop blowup at scale. */
    Query("q_join_theta",
      """SELECT p_brand, count(*) AS n,
         CAST(sum(CAST(ROUND(l_quantity,2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN part
           ON l_partkey = p_partkey
          AND l_quantity BETWEEN p_size - 5 AND p_size + 5
         GROUP BY p_brand ORDER BY p_brand""")((s, d) => {
      lineitem(s, d)
        .join(part(s, d), col("l_partkey") === col("p_partkey")
          && col("l_quantity").between(col("p_size") - 5, col("p_size") + 5))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), sumd2(col("l_quantity")).as("sum_qty"))
        .orderBy("p_brand")
    }),

    /** q15: cross join (tiny × tiny — broadcast NL). */
    Query("q_join_cross",
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""")((s, d) => {
      region(s, d).crossJoin(nation(s, d))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name")
    }),

    /** q16: as-of join — each purchase matched to the same user's
      * latest prior view. Window formulation (not a range join) keeps
      * it deterministic and scales: one shuffle by user_id. */
    Query("q_join_asof",
      """SELECT event_id, user_id, ts, prior_view_ts FROM (
           SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_ts
           FROM events
         ) t WHERE event_type = 'purchase'
         ORDER BY event_id""")((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .withColumn("prior_view_ts",
          last(when(col("event_type") === "view", col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("prior_view_ts"))
        .orderBy("event_id")
    })
  )
}
