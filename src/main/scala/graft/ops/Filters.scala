package graft.ops

import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._

/** §2 group B — filters / projection expressions. Hadoop Grep analogue
  * (SURVEY.md §2 row 6): filter + count, the map-side-filter pattern
  * the reference expresses as a user map() (paper [P §2]). */
object Filters {

  val queries: Seq[Query] = Seq(
    /** q4: compound predicate — AND/OR/NOT, IN, BETWEEN, LIKE. All of
      * it collapses into one codegen'd filter over the scan. */
    Query("q_filter_compound",
      """SELECT o_orderkey, o_custkey, o_totalprice AS total,
         o_orderstatus, o_orderpriority
         FROM orders
         WHERE o_orderstatus IN ('F','O')
           AND o_totalprice BETWEEN 10000 AND 150000
           AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
           AND o_custkey IS NOT NULL
           AND NOT (o_orderpriority = '5-LOW')
         ORDER BY o_orderkey""")((s, d) => {
      orders(s, d)
        .filter(col("o_orderstatus").isin("F", "O")
          && col("o_totalprice").between(10000, 150000)
          && (col("o_orderpriority").like("1-%")
            || col("o_orderpriority").like("2-%"))
          && col("o_custkey").isNotNull
          && !(col("o_orderpriority") === "5-LOW"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("total"),
          col("o_orderstatus"), col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),

    /** q5: arithmetic + CASE WHEN projection. disc_price is an exact
      * decimal product (2dp × 4dp) output as double — bit-identical
      * across engines, no float rounding anywhere. */
    Query("q_project_case",
      """SELECT l_orderkey, l_linenumber,
         CAST(CAST(ROUND(l_extendedprice,2) AS DECIMAL(18,2))
              * CAST(ROUND(1 - l_discount,4) AS DECIMAL(8,4)) AS DOUBLE) AS disc_price,
         CASE WHEN l_quantity < 10 THEN 'small'
              WHEN l_quantity < 25 THEN 'mid'
              ELSE 'bulk' END AS qty_class,
         CASE WHEN l_tax > 0.05 THEN 1 ELSE 0 END AS tax_flag
         FROM lineitem ORDER BY l_orderkey, l_linenumber""")((s, d) => {
      lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          dbl(dec2(col("l_extendedprice")) * dec4s(lit(1) - col("l_discount")))
            .as("disc_price"),
          when(col("l_quantity") < 10, "small")
            .when(col("l_quantity") < 25, "mid")
            .otherwise("bulk").as("qty_class"),
          when(col("l_tax") > 0.05, 1).otherwise(0).as("tax_flag"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    /** q6: Hadoop Grep — substring match + per-group count. */
    Query("q_mr_grep",
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents WHERE text LIKE '%spark%'
         GROUP BY lang ORDER BY lang""")((s, d) => {
      documents(s, d)
        .filter(col("text").contains("spark"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    })
  )
}
