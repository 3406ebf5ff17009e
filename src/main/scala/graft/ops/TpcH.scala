package graft.ops

import graft.engine.{Query, Tables}

/** The TPC-H Q1–Q22 pack, adapted to the fixture's reduced star
  * schema (SURVEY.md §2 rows 250–271) — the recognizable external
  * query suite, declared as first-class rows with full DuckDB oracles.
  *
  * Each query is ONE dialect-common ANSI SQL string executed verbatim
  * by BOTH engines (Spark through `Tables.runSql`, which binds each
  * table the text names to its catalog relation; DuckDB as the
  * oracle), so the Spark plan is exactly what Catalyst
  * derives from the standard text — broadcast of the dimension chain,
  * partial aggregation, semi/anti subquery rewrites, dynamic pruning —
  * with zero hand-scheduling, and alias drift between a plan and its oracle is
  * impossible by construction.
  *
  * ADAPTATION NOTES (the fixture omits some TPC-H columns/tables;
  * every adaptation preserves the query's structural signature —
  * join graph, aggregation pattern, subquery shape):
  *
  *   - no `partsupp` table → Q2/Q11/Q16/Q20 derive the part–supplier
  *     relation from `lineitem` (observed (l_partkey, l_suppkey)
  *     pairs; per-unit price stands in for ps_supplycost, shipped
  *     quantity for ps_availqty);
  *   - no l_commitdate/l_receiptdate → Q4/Q12/Q21's lateness
  *     predicate becomes l_shipdate vs o_orderdate (+ grace);
  *   - no l_shipmode/l_shipinstruct/p_container → Q12 buckets by
  *     l_linestatus, Q19 drops the container conjunct;
  *   - no o_comment/o_shippriority/c_phone/c_address/c_comment →
  *     Q13 filters o_orderpriority instead of the comment regex,
  *     Q3/Q10 output the available customer/order columns, Q22 uses
  *     c_nationkey as the country-code analog;
  *   - date literals are fixed to the fixture's 1995–2001 range.
  *
  * Determinism/compare contract (graft.engine.Dec): money aggregates
  * go through DECIMAL(18,2) (exact on both engines) and CAST to
  * DOUBLE only at output; ratios/averages are ONE final double
  * division of two exact values (or rewritten multiplicative, e.g.
  * Q17/Q22's avg comparisons); every output is totally ordered with a
  * unique tiebreaker; year()/count() are CAST to INT/BIGINT so the
  * schemas match across engines. */
object TpcH {

  /** Q1 — pricing summary report. Verbatim TPC-H (every needed column
    * exists); cutoff adapted to the fixture date range. */
  private val q1 =
    """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS sum_disc_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))
                  * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
           AS sum_charge,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              / count(*) AS DOUBLE) AS avg_qty,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
              / count(*) AS DOUBLE) AS avg_price,
         CAST(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
              / count(*) AS DOUBLE) AS avg_disc,
         CAST(count(*) AS BIGINT) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2001-09-01'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** Q2 — minimum-cost supplier. partsupp is derived from lineitem:
    * supplycost := the minimum observed per-unit price (cents/qty, one
    * IEEE division of two exact values) for the (part, supplier) pair;
    * the correlated min-cost subquery, region restriction and 100-row
    * ordered output keep TPC-H's shape. */
  private val q2 =
    """WITH ps AS (
         SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                min(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) AS DOUBLE) / l_quantity) AS ps_supplycost
         FROM lineitem GROUP BY l_partkey, l_suppkey
       )
       SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
       FROM part, ps, supplier, nation, region
       WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
         AND p_size = 15 AND p_type = 'STANDARD'
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'EUROPE'
         AND ps_supplycost = (
           SELECT min(ps2.ps_supplycost)
           FROM ps ps2, supplier s2, nation n2, region r2
           WHERE ps2.ps_partkey = p_partkey
             AND s2.s_suppkey = ps2.ps_suppkey
             AND s2.s_nationkey = n2.n_nationkey
             AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
       ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       LIMIT 100"""

  /** Q3 — shipping priority. o_shippriority doesn't exist; the output
    * keeps (orderkey, revenue, orderdate) and the top-10-by-revenue
    * contract. */
  private val q3 =
    """SELECT l_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue,
         o_orderdate
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         AND l_orderkey = o_orderkey
         AND o_orderdate < TIMESTAMP '1996-03-15'
         AND l_shipdate > TIMESTAMP '1996-03-15'
       GROUP BY l_orderkey, o_orderdate
       ORDER BY revenue DESC, o_orderdate, l_orderkey
       LIMIT 10"""

  /** Q4 — order priority checking. Lateness predicate adapted
    * (l_shipdate > o_orderdate + 30 days, no commit/receipt dates);
    * the EXISTS-correlated count-by-priority shape is verbatim. */
  private val q4 =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-07-01'
         AND o_orderdate < TIMESTAMP '1996-10-01'
         AND EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey
             AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority"""

  /** Q5 — local supplier volume. Verbatim join graph (including the
    * c_nationkey = s_nationkey "local" constraint). */
  private val q5 =
    """SELECT n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name
       ORDER BY revenue DESC, n_name"""

  /** Q6 — forecasting revenue change. Verbatim. */
  private val q6 =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
           AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND CAST(l_discount AS DECIMAL(4,2))
               BETWEEN CAST(0.05 AS DECIMAL(4,2))
                   AND CAST(0.07 AS DECIMAL(4,2))
         AND l_quantity < 24"""

  /** Q7 — volume shipping between two nations. Verbatim shape with
    * fixture nation names. */
  private val q7 =
    """SELECT supp_nation, cust_nation, l_year,
         CAST(sum(volume) AS DOUBLE) AS revenue
       FROM (
         SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS INT) AS l_year,
                CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume
         FROM supplier, lineitem, orders, customer, nation n1, nation n2
         WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
           AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
           AND c_nationkey = n2.n_nationkey
           AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
             OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
           AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                              AND TIMESTAMP '1997-12-31'
       ) shipping
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year"""

  /** Q8 — national market share. Verbatim shape; the share is ONE
    * double division of two exact decimal sums. */
  private val q8 =
    """SELECT o_year,
         CAST(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                            ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
              / CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
       FROM (
         SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
                n2.n_name AS nation
         FROM part, supplier, lineitem, orders, customer,
              nation n1, nation n2, region
         WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
           AND l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND c_nationkey = n1.n_nationkey
           AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
           AND s_nationkey = n2.n_nationkey
           AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                               AND TIMESTAMP '1997-12-31'
           AND p_type = 'ECONOMY'
       ) all_nations
       GROUP BY o_year
       ORDER BY o_year"""

  /** Q9 — product type profit. No ps_supplycost → profit is the
    * discounted revenue term only; the name-LIKE filter, supplier-
    * nation grouping and year breakdown are verbatim. */
  private val q9 =
    """SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
       FROM (
         SELECT n_name AS nation,
                CAST(year(o_orderdate) AS INT) AS o_year,
                CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2))) AS amount
         FROM part, supplier, lineitem, orders, nation
         WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
           AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
           AND p_name LIKE '%widget%'
       ) profit
       GROUP BY nation, o_year
       ORDER BY nation, o_year DESC"""

  /** Q10 — returned item reporting. Output restricted to the customer
    * columns the fixture has; top-20-by-revenue contract verbatim. */
  private val q10 =
    """SELECT c_custkey, c_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue,
         c_acctbal, n_name
       FROM customer, orders, lineitem, nation
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND o_orderdate >= TIMESTAMP '1996-10-01'
         AND o_orderdate < TIMESTAMP '1997-01-01'
         AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey
       LIMIT 20"""

  /** Q11 — important stock identification. partsupp derived from
    * lineitem (value := shipped extendedprice for the nation's
    * suppliers); the HAVING-greater-than-scalar-fraction-of-global-
    * total subquery shape is verbatim. */
  private val q11 =
    """SELECT l_partkey AS ps_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS part_value
       FROM lineitem, supplier, nation
       WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         AND n_name = 'NATION_3'
       GROUP BY l_partkey
       HAVING sum(CAST(l_extendedprice AS DECIMAL(18,2))) > (
         SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                * CAST(0.001 AS DECIMAL(6,4))
         FROM lineitem, supplier, nation
         WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND n_name = 'NATION_3')
       ORDER BY part_value DESC, ps_partkey"""

  /** Q12 — shipping mode / order priority. No l_shipmode → buckets by
    * l_linestatus; the two CASE-counted priority classes and the
    * date-window anti-lateness predicate keep the shape. */
  private val q12 =
    """SELECT l_linestatus,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                         OR o_orderpriority = '2-HIGH'
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                        AND o_orderpriority <> '2-HIGH'
                       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders, lineitem
       WHERE o_orderkey = l_orderkey
         AND l_shipdate > o_orderdate
         AND l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
       GROUP BY l_linestatus
       ORDER BY l_linestatus"""

  /** Q13 — customer distribution. The comment-regex exclusion becomes
    * an o_orderpriority exclusion; the left-join + two-level count
    * histogram shape is verbatim. */
  private val q13 =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
       FROM (
         SELECT c_custkey AS ck,
                CAST(count(o_orderkey) AS BIGINT) AS c_count
         FROM customer LEFT OUTER JOIN orders
           ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
         GROUP BY c_custkey
       ) c_orders
       GROUP BY c_count
       ORDER BY custdist DESC, c_count DESC"""

  /** Q14 — promotion effect. Verbatim (the fixture's p_type domain
    * includes 'PROMO'); promo share is ONE double division. */
  private val q14 =
    """SELECT CAST(100.00 * CAST(sum(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS DOUBLE) AS promo_revenue
       FROM lineitem, part
       WHERE l_partkey = p_partkey
         AND l_shipdate >= TIMESTAMP '1996-03-01'
         AND l_shipdate < TIMESTAMP '1996-04-01'"""

  /** Q15 — top supplier. The revenue view is inlined as a CTE (used
    * twice: once for the ranking, once for the max subquery) —
    * verbatim shape. The ranking compares the EXACT decimal sums
    * (a per-row cast-to-cents was measured to truncate differently
    * across engines); DOUBLE only at output. */
  private val q15 =
    """WITH revenue0 AS (
         SELECT l_suppkey AS supplier_no,
                sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2))))
                  AS total_rev
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1996-04-01'
         GROUP BY l_suppkey
       )
       SELECT s_suppkey, s_name,
              CAST(total_rev AS DOUBLE) AS total_revenue
       FROM supplier, revenue0
       WHERE s_suppkey = supplier_no
         AND total_rev = (SELECT max(total_rev) FROM revenue0)
       ORDER BY s_suppkey"""

  /** Q16 — parts/supplier relationship. partsupp derived from
    * lineitem's observed pairs; the supplier-complaint exclusion
    * becomes the negative-acctbal suppliers; the distinct-supplier
    * count per (brand, type, size) with NOT IN subquery is verbatim. */
  private val q16 =
    """SELECT p_brand, p_type, p_size,
         CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
       FROM (
         SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
         FROM lineitem
       ) ps, part
       WHERE p_partkey = ps_partkey
         AND p_brand <> 'Brand#5'
         AND p_size IN (1, 5, 15, 25, 35, 45, 49, 50)
         AND ps_suppkey NOT IN (
           SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  /** Q17 — small-quantity-order revenue. The 0.2*avg(quantity)
    * correlated threshold is rewritten multiplicatively
    * (5 * qty * n < sum ⇔ qty < 0.2 * avg) so no engine ever divides;
    * the final /7.0 is the single output division. */
  private val q17 =
    """SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
               AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
       FROM lineitem l, part,
            (SELECT l_partkey AS ap, sum(CAST(l_quantity AS DECIMAL(18,2)))
                      AS sq, count(*) AS cn
             FROM lineitem GROUP BY l_partkey) agg
       WHERE p_partkey = l.l_partkey AND agg.ap = l.l_partkey
         AND p_brand = 'Brand#3'
         AND CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * cn < sq"""

  /** Q18 — large-volume customers. Threshold fitted to the fixture's
    * quantity-per-order distribution (p99 ≈ 262); shape verbatim. */
  private val q18 =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       FROM customer, orders, lineitem
       WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey
           HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
         AND c_custkey = o_custkey AND o_orderkey = l_orderkey
       GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
       LIMIT 100"""

  /** Q19 — discounted revenue (disjunctive predicates). p_container
    * conjuncts dropped (column absent); the three brand/size/quantity
    * disjuncts keep the OR-of-conjunctions shape Catalyst must push
    * into one scan. */
  private val q19 =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue
       FROM lineitem, part
       WHERE p_partkey = l_partkey
         AND ((p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
               AND p_size BETWEEN 1 AND 5)
           OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
               AND p_size BETWEEN 1 AND 10)
           OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
               AND p_size BETWEEN 1 AND 15))"""

  /** Q20 — potential part promotion. partsupp/availqty derived from
    * lineitem (total shipped quantity per (supp, part)); the
    * IN-subquery-with-correlated-half-of-availqty chain is verbatim:
    * suppliers who shipped more of a 'red' part in 1996 than half
    * their all-time volume of it. */
  private val q20 =
    """SELECT s_name, s_acctbal
       FROM supplier, nation
       WHERE s_suppkey IN (
           SELECT ps.l_suppkey
           FROM (SELECT l_suppkey, l_partkey,
                        sum(CAST(l_quantity AS DECIMAL(18,2))) AS availqty
                 FROM lineitem GROUP BY l_suppkey, l_partkey) ps
           WHERE ps.l_partkey IN (
               SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
             AND availqty / 2 < (
               SELECT coalesce(sum(CAST(l2.l_quantity AS DECIMAL(18,2))),
                               CAST(0 AS DECIMAL(18,2)))
               FROM lineitem l2
               WHERE l2.l_partkey = ps.l_partkey
                 AND l2.l_suppkey = ps.l_suppkey
                 AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
                 AND l2.l_shipdate < TIMESTAMP '1997-01-01'))
         AND s_nationkey = n_nationkey AND n_name = 'NATION_19'
       ORDER BY s_name"""

  /** Q21 — suppliers who kept orders waiting. Lateness adapted to
    * l_shipdate > o_orderdate + 30 days; the triple-correlation
    * (EXISTS another supplier in the order, NOT EXISTS another LATE
    * supplier) is verbatim. */
  private val q21 =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
       FROM supplier, lineitem l1, orders, nation
       WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
         AND o_orderstatus = 'F'
         AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
         AND EXISTS (
           SELECT 1 FROM lineitem l2
           WHERE l2.l_orderkey = l1.l_orderkey
             AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (
           SELECT 1 FROM lineitem l3, orders o3
           WHERE l3.l_orderkey = l1.l_orderkey
             AND o3.o_orderkey = l3.l_orderkey
             AND l3.l_suppkey <> l1.l_suppkey
             AND l3.l_shipdate > o3.o_orderdate + INTERVAL 30 DAY)
         AND s_nationkey = n_nationkey AND n_name = 'NATION_19'
       GROUP BY s_name
       ORDER BY numwait DESC, s_name
       LIMIT 100"""

  /** Q22 — global sales opportunity. c_phone's country code becomes
    * c_nationkey; the positive-average-balance scalar comparison is
    * rewritten multiplicatively (bal * n > total ⇔ bal > avg); the
    * NOT EXISTS anti-join keeps its shape but excludes customers with
    * URGENT orders — every fixture customer has at least one order,
    * so the verbatim "no orders at all" predicate selects nothing. */
  private val q22 =
    """WITH pos AS (
         SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS total,
                count(*) AS n
         FROM customer
         WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0
           AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
       )
       SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
              CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                AS totacctbal
       FROM (
         SELECT CAST(c_nationkey AS INT) AS cntrycode, c_acctbal
         FROM customer, pos
         WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
           AND CAST(c_acctbal AS DECIMAL(18,2)) * n > total
           AND NOT EXISTS (
             SELECT 1 FROM orders WHERE o_custkey = c_custkey
               AND o_orderpriority = '1-URGENT')
       ) custsale
       GROUP BY cntrycode
       ORDER BY cntrycode"""

  /** Each row's oracle IS its Spark string — one dialect-common text
    * per query, so the two engines parse identical SQL. */
  val queries: Seq[Query] = Seq(
    "q_tpch_q1" -> q1, "q_tpch_q2" -> q2, "q_tpch_q3" -> q3,
    "q_tpch_q4" -> q4, "q_tpch_q5" -> q5, "q_tpch_q6" -> q6,
    "q_tpch_q7" -> q7, "q_tpch_q8" -> q8, "q_tpch_q9" -> q9,
    "q_tpch_q10" -> q10, "q_tpch_q11" -> q11, "q_tpch_q12" -> q12,
    "q_tpch_q13" -> q13, "q_tpch_q14" -> q14, "q_tpch_q15" -> q15,
    "q_tpch_q16" -> q16, "q_tpch_q17" -> q17, "q_tpch_q18" -> q18,
    "q_tpch_q19" -> q19, "q_tpch_q20" -> q20, "q_tpch_q21" -> q21,
    "q_tpch_q22" -> q22
  ).map { case (n, q) => Query(n, q)((s, d) => Tables.runSql(s, d, q)) }
}
