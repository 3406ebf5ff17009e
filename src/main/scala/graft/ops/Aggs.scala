package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._

/** §2 group D — aggregation. Spark's HashAggregateExec does the
  * partial/final split automatically — the hand-written combiner the
  * reference requires of users (SURVEY.md §2 row 17, paper [P §2]).
  *
  * Numeric discipline (see graft.engine.Dec): money sums accumulate in
  * exact decimal (order-independent under shuffle), then the final
  * value is CAST to DOUBLE — bit-identical with the DuckDB oracle.
  * Integer sums are CAST(... AS BIGINT) on the DuckDB side because
  * DuckDB widens to HUGEINT, which pandas would render as float. */
object Aggs {

  private val decQty  = "CAST(ROUND(l_quantity,2) AS DECIMAL(18,2))"
  private val decExt  = "CAST(ROUND(l_extendedprice,2) AS DECIMAL(18,2))"
  private val decDisc = "CAST(ROUND(1 - l_discount,4) AS DECIMAL(8,4))"
  private val decTax  = "CAST(ROUND(1 + l_tax,4) AS DECIMAL(8,4))"

  val queries: Seq[Query] = Seq(
    /** q17: TPC-H Q1 shape — the flagship aggregate. */
    Query("q_agg_basic",
      s"""SELECT l_returnflag, l_linestatus,
          CAST(sum($decQty) AS DOUBLE) AS sum_qty,
          CAST(sum($decExt) AS DOUBLE) AS sum_base_price,
          CAST(ROUND(sum($decExt * $decDisc), 4) AS DOUBLE) AS sum_disc_price,
          CAST(ROUND(sum($decExt * $decDisc * $decTax), 4) AS DOUBLE) AS sum_charge,
          CAST(sum($decQty) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS avg_qty,
          CAST(sum($decExt) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS avg_price,
          min(l_quantity) AS min_qty,
          max(l_quantity) AS max_qty,
          count(1) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
          GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""")((s, d) => {
      val disc  = dec2(col("l_extendedprice")) * dec4s(lit(1) - col("l_discount"))
      val charge = dec2(col("l_extendedprice")) *
        dec4s(lit(1) - col("l_discount")) * dec4s(lit(1) + col("l_tax"))
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumd2(col("l_quantity")).as("sum_qty"),
          sumd2(col("l_extendedprice")).as("sum_base_price"),
          // high-scale decimal sums are re-scaled to 4 before the
          // double cast: conversions are only correctly rounded while
          // the unscaled value fits 2^53 (see Dec scaladoc), and the
          // scale-10 charge sum would overflow that at ~4e17
          dbl(sum(disc).cast(DecimalType(18, 4))).as("sum_disc_price"),
          dbl(sum(charge).cast(DecimalType(18, 4))).as("sum_charge"),
          avgd(sum(dec2(col("l_quantity"))), count(lit(1))).as("avg_qty"),
          avgd(sum(dec2(col("l_extendedprice"))), count(lit(1))).as("avg_price"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    /** q18: HAVING — post-aggregation filter. */
    Query("q_agg_having",
      """SELECT o_custkey, count(*) AS n_orders,
         CAST(sum(CAST(ROUND(o_totalprice,2) AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_custkey HAVING count(*) >= 5
         ORDER BY o_custkey""")((s, d) => {
      orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sumd2(col("o_totalprice")).as("total"))
        .filter(col("n_orders") >= 5)
        .orderBy("o_custkey")
    }),

    /** q19: COUNT(DISTINCT) per group — Spark expands to a 2-phase
      * plan (distinct-aggregate expansion) automatically. */
    Query("q_agg_distinct",
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")((s, d) => {
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    /** q20: ROLLUP. NULL subtotal keys are coalesced to 'ALL' so no
      * NULL-ordering skew between engines can exist (data itself has
      * no NULL flags). */
    Query("q_agg_rollup",
      s"""SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
         CAST(sum($decQty) AS DOUBLE) AS sum_qty,
         count(*) AS n,
         CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
         CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY g_rf, g_ls, rf, ls""")((s, d) => {
      lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sumd2(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("bigint").as("g_rf"),
          grouping(col("l_linestatus")).cast("bigint").as("g_ls"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"), col("g_rf"), col("g_ls"))
        .orderBy("g_rf", "g_ls", "rf", "ls")
    }),

    /** q21: CUBE over orders. */
    Query("q_agg_cube",
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
         coalesce(o_orderpriority,'ALL') AS priority,
         count(*) AS n,
         CAST(sum(CAST(ROUND(o_totalprice,2) AS DECIMAL(18,2))) AS DOUBLE) AS total,
         CAST(grouping(o_orderstatus) AS BIGINT) AS g_st,
         CAST(grouping(o_orderpriority) AS BIGINT) AS g_pr
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY g_st, g_pr, status, priority""")((s, d) => {
      orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sumd2(col("o_totalprice")).as("total"),
          grouping(col("o_orderstatus")).cast("bigint").as("g_st"),
          grouping(col("o_orderpriority")).cast("bigint").as("g_pr"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"), col("g_st"), col("g_pr"))
        .orderBy("g_st", "g_pr", "status", "priority")
    }),

    /** q22: explicit GROUPING SETS via SQL text (entry point E2). */
    Query("q_agg_groupingsets",
      s"""SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         count(*) AS n,
         CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
         CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
         ORDER BY g_rf, g_ls, rf, ls""")((s, d) => {
      lineitem(s, d).createOrReplaceTempView("li_q22")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               count(1) AS n,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
        FROM li_q22
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        ORDER BY g_rf, g_ls, rf, ls""")
    }),

    /** q69: exact percentiles (median/p90) — both engines define
      * quantiles by (n-1)*p linear interpolation; inputs are the
      * integral l_quantity grid, so interpolated values are exact. */
    Query("q_agg_percentile",
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS med,
         quantile_cont(l_quantity, 0.9) AS p90,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")((s, d) => {
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("med"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    /** q70: moment statistics from EXACT decimal power sums — the
      * built-in stddev/corr accumulate doubles (shuffle-order-
      * dependent); instead sums/sum-of-squares/cross-products are
      * exact decimals (2-dp inputs → 4-dp products), re-scaled under
      * the 2^53 boundary, and the variance/correlation formulas run
      * in IEEE double with an identical expression tree on both
      * engines. */
    Query("q_agg_moments",
      s"""SELECT l_returnflag,
         sx / n AS mean_qty,
         (sxx - sx * sx / n) / (n - 1) AS var_qty,
         sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
         (n * sxy - sx * sy)
           / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
         FROM (
           SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum($decQty) AS DOUBLE) AS sx,
             CAST(ROUND(sum($decExt), 2) AS DOUBLE) AS sy,
             CAST(ROUND(sum($decQty * $decQty), 2) AS DOUBLE) AS sxx,
             CAST(ROUND(sum($decExt * $decExt), 0) AS DOUBLE) AS syy,
             CAST(ROUND(sum($decQty * $decExt), 2) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY l_returnflag
         ) t ORDER BY l_returnflag""")((s, d) => {
      val x = dec2(col("l_quantity"))
      val y = dec2(col("l_extendedprice"))
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          dbl(sum(x)).as("sx"),
          dbl(sum(y).cast(DecimalType(18, 2))).as("sy"),
          dbl(sum(x * x).cast(DecimalType(18, 2))).as("sxx"),
          dbl(sum(y * y).cast(DecimalType(18, 0))).as("syy"),
          dbl(sum(x * y).cast(DecimalType(18, 2))).as("sxy"))
        .select(col("l_returnflag"),
          (col("sx") / col("n")).as("mean_qty"),
          ((col("sxx") - col("sx") * col("sx") / col("n"))
            / (col("n") - 1)).as("var_qty"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
            / (col("n") - 1)).as("stddev_qty"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    }),

    /** q23: HLL approximate distinct — oracle=none (sketches are
      * engine-specific); ScalaTest bounds-checks vs exact. */
    Query("q_agg_approx_distinct")((s, d) => {
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    /** q68: PIVOT — per-user event-type counts as columns. The value
      * set is declared explicitly, so the plan is a single pass
      * (no distinct-values pre-query). */
    Query("q_agg_pivot",
      """SELECT user_id,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
         CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
         CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
         FROM events GROUP BY user_id ORDER BY user_id""")((s, d) => {
      events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),

    /** q24: Hadoop WordCount — map(split) → shuffle(word) → reduce
      * (count), expressed declaratively so the partial aggregation is
      * the combiner. */
    Query("q_mr_wordcount",
      """SELECT word, count(*) AS cnt FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents
         ) t WHERE length(word) > 0
         GROUP BY word ORDER BY cnt DESC, word LIMIT 20""")((s, d) => {
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    }),

    /** q25: inverted index — word → sorted posting list (the MRBGraph
      * edge shape, paper [P §3]: word=reduce instance, doc=map
      * instance, posting=edge). Postings serialized as a CSV string so
      * both engines hash the same scalar. */
    Query("q_mr_inverted_index",
      """SELECT word, count(*) AS df,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         FROM (
           SELECT DISTINCT doc_id, word FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
           ) raw WHERE length(word) > 0
         ) t GROUP BY word ORDER BY word""")((s, d) => {
      documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .distinct()
        .groupBy("word")
        .agg(count(lit(1)).as("df"),
          array_join(transform(sort_array(collect_set(col("doc_id"))),
            x => x.cast("string")), ",").as("postings"))
        .orderBy("word")
    })
  )
}
