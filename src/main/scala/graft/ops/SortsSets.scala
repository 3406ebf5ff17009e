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
    })
  )
}
