package graft.ops

import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._

/** §2 group F — total-order sort (Hadoop Sort/TeraSort analogue: Spark
  * range-partitions the shuffle exactly like TeraSort's sampled
  * partitioner), global top-N (TakeOrderedAndProject — no full sort at
  * scale), and set operations. */
object SortsSets {

  val queries: Seq[Query] = Seq(
    /** q30: multi-key total order — range-partitioned shuffle. */
    Query("q_sort_total",
      """SELECT l_returnflag, l_linestatus, l_extendedprice AS price,
         l_orderkey, l_linenumber
         FROM lineitem
         ORDER BY l_returnflag ASC, price DESC, l_orderkey ASC, l_linenumber ASC""")((s, d) => {
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice").as("price"),
          col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_returnflag").asc, col("price").desc,
          col("l_orderkey").asc, col("l_linenumber").asc)
    }),

    /** q31: global top-N — Catalyst plans TakeOrderedAndProject
      * (per-partition heap + driver merge), not a total sort. */
    Query("q_limit_topk",
      """SELECT l_orderkey, l_linenumber, l_extendedprice AS price
         FROM lineitem
         ORDER BY price DESC, l_orderkey ASC, l_linenumber ASC LIMIT 100""")((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("price"))
        .orderBy(col("price").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(100)
    }),

    /** q32: UNION ALL + grouped dedup stats in one output. */
    Query("q_set_union_all",
      """SELECT nk, count(*) AS total, count(DISTINCT src) AS n_src FROM (
           SELECT c_nationkey AS nk, 'c' AS src FROM customer
           UNION ALL
           SELECT s_nationkey AS nk, 's' AS src FROM supplier
         ) t GROUP BY nk ORDER BY nk""")((s, d) => {
      customer(s, d).select(col("c_nationkey").as("nk"), lit("c").as("src"))
        .unionByName(
          supplier(s, d).select(col("s_nationkey").as("nk"), lit("s").as("src")))
        .groupBy("nk")
        .agg(count(lit(1)).as("total"), countDistinct(col("src")).as("n_src"))
        .orderBy("nk")
    }),

    /** q33: INTERSECT (distinct semantics both engines). */
    Query("q_set_intersect",
      """SELECT c_nationkey AS nk FROM customer
         INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""")((s, d) => {
      customer(s, d).select(col("c_nationkey").as("nk"))
        .intersect(supplier(s, d).select(col("s_nationkey").as("nk")))
        .orderBy("nk")
    }),

    /** q34: EXCEPT. */
    Query("q_set_except",
      """SELECT c_nationkey AS nk FROM customer
         EXCEPT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""")((s, d) => {
      customer(s, d).select(col("c_nationkey").as("nk"))
        .except(supplier(s, d).select(col("s_nationkey").as("nk")))
        .orderBy("nk")
    }),

    /** q99/q100: MULTISET set ops — INTERSECT ALL / EXCEPT ALL keep
      * duplicate cardinalities (min / left-minus-right per value),
      * a genuinely different operator from q33/q34's distinct-set
      * forms. Aggregated per key so the output is deterministic
      * without relying on row order. */
    Query("q_set_intersect_all",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM (
           SELECT user_id FROM events WHERE event_type = 'view'
           INTERSECT ALL
           SELECT user_id FROM events WHERE event_type = 'click')
         GROUP BY user_id ORDER BY user_id""")((s, d) => {
      val ev = events(s, d)
      ev.filter(col("event_type") === "view").select("user_id")
        .intersectAll(
          ev.filter(col("event_type") === "click").select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy("user_id")
    }),
    Query("q_set_except_all",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM (
           SELECT user_id FROM events WHERE event_type = 'view'
           EXCEPT ALL
           SELECT user_id FROM events WHERE event_type = 'click')
         GROUP BY user_id ORDER BY user_id""")((s, d) => {
      val ev = events(s, d)
      ev.filter(col("event_type") === "view").select("user_id")
        .exceptAll(
          ev.filter(col("event_type") === "click").select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy("user_id")
    }),

    /** q198: TOP-K PER GROUP VIA THE TIER-(c) CUSTOM OPERATOR — the
      * top-3 lineitems per return flag by price, executed by
      * [[graft.plans.TopKPerGroupExec]]: per-input-partition bounded
      * heaps shuffle AT MOST |groups|·k·|partitions| rows (3·3·32 =
      * 288 at sf0.1) where q29's window form shuffles and sorts all
      * 600 000 — the custom LogicalPlan/SparkStrategy/SparkPlan
      * extension path demonstrated on a declared, oracle-hashed row.
      * Sort order is TOTAL ((price desc, orderkey, linenumber) —
      * the operator's determinism contract), so the oracle's
      * row_number window computes the identical set; `Round12cSpec`
      * additionally proves operator ≡ window form on random frames
      * and pins the physical plan. */
    Query("q_topk_native",
      // q198's oracle: the window formulation — the custom operator
      // must produce exactly the rows row_number() <= k selects under
      // the same total order.
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
         FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
               AS rn
           FROM lineitem
         ) t WHERE rn <= 3
         ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey,
           l_linenumber""")((s, d) => {
      val li = lineitem(s, d).select(col("l_returnflag"),
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      graft.Graft.topKPerGroup(li, Seq("l_returnflag"),
          Seq(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber")), k = 3)
        .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
    }),

    /** q199: COST-BASED TOP-K SELECTOR — `Graft.autoTopK`, the
      * q160/q161 selector pattern applied to the tier-(c) operator:
      * one aggregate pass costs the operator's shuffle volume
      * (|groups|·k·|partitions|) against the window form's (|rows|)
      * BEFORE committing to a plan, and the decision rides in the
      * output under the oracle hash. On the fixture the returnflag
      * grouping (3 groups) sits ≥ 60× under the advantage bar at
      * every oracle SF, so the selector must pick 'native' and
      * reproduce q198's rows exactly; `Round12cSpec` pins the margin
      * (so fixture drift fails a named assertion, not an opaque
      * hash), proves q199 ≡ q198 + 'native', and exercises the
      * window branch at a forced advantage where both branches'
      * rows must STILL agree (total order ⇒ plan-invisible). */
    Query("q_topk_auto",
      // q199's oracle: the window formulation + the committed decision.
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
           'native' AS plan
         FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
               AS rn
           FROM lineitem
         ) t WHERE rn <= 3
         ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey,
           l_linenumber""")((s, d) => {
      val li = lineitem(s, d).select(col("l_returnflag"),
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      graft.Graft.autoTopK(li, Seq("l_returnflag"),
          Seq(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber")), k = 3)
        .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
    })
  )
}
