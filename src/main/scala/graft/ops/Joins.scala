package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._
import org.apache.spark.sql.DataFrame
import graft.incr.{Delta, Maintain}

/** §2 group C — joins. The reference offers reduce-side joins (shuffle)
  * and map-side joins via the distributed cache [H]; here Catalyst/AQE
  * picks sort-merge vs broadcast from sizes, and `broadcast()` pins the
  * map-side case explicitly. At 100 TB: dims (region/nation/supplier/
  * customer) broadcast; only fact-fact joins shuffle, on their join
  * keys, so co-partitioned downstream aggs reuse the exchange.
  *
  * Also the temporal joins (as-of, SCD2 and its point-in-interval
  * consumer) and the maintained join views, each incremental twin
  * beside the batch row it must equal. The proximity joins live in
  * [[Sweep]] with their sweep kernels. */
object Joins {


  /** The q112 SCD2 interval computation over any (o_custkey,
    * o_orderdate, o_orderkey, o_orderstatus) frame — factored like
    * [[Events.sessionsOf]] so q143 can run it on the preserved and
    * recomputed custkey partitions separately. */
  private[graft] def scd2OfRows(rows: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val hist = rows
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderstatus"))
      .withColumn("prev_status", lag("o_orderstatus", 1).over(w))
    val chg = hist.filter(
      col("prev_status").isNull || col("prev_status") =!= col("o_orderstatus"))
    chg
      .withColumn("next_from", lead("o_orderdate", 1).over(w))
      .select(col("o_custkey"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from"),
        col("o_orderkey"),
        coalesce(col("next_from"),
          lit("2100-01-01 00:00:00").cast("timestamp")).as("valid_to"),
        when(col("next_from").isNull, 1L).otherwise(0L).as("is_current"))
  }

  /** The q112 SCD2 interval table (unordered) — shared with q124's
    * temporal point-in-interval join. */
  private def scd2Of(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = scd2OfRows(orders(s, d))

  /** SIGNED merge of (n_name, n, rev) partial-aggregate views [P §3]:
    * retractions enter with NEGATED multiplicity and sum — valid
    * because (count, decimal-sum) form an abelian group under
    * addition — and groups whose live multiplicity reaches 0 VANISH
    * (without the carried count an empty group and a zero-sum group
    * are indistinguishable — the classic IVM pitfall; `Round8Spec`
    * proves the vanish). All three inputs are already-aggregated
    * partials, so the merge is group-cardinality-sized. */
  def viewApplyDelta(base: DataFrame, ins: DataFrame,
                     del: DataFrame): DataFrame =
    Maintain.signedMerge(Seq("n_name"), Seq("n", "rev"),
        Seq(base, ins), Seq(del))(col("n") > 0)
      .withColumn("rev", dbl(col("rev")))

  /** GENERIC nearest as-of join (q174 on caller columns): for each
    * left row, the same-`key` right row nearest in absolute time —
    * millisecond distance, sub-ms ties by right id; the argmin rides
    * ONE min() of the exact composite integer |Δt|ms·10^7 + r_id
    * (div/mod recovery — never FP, the key exceeds 2^53). Output
    * (l_id, key, r_id, diff_ms). Right ids must be < 10^7. */
  def nearestAsofJoin(left: DataFrame, lId: String, lTs: String,
                      right: DataFrame, rId: String, rTs: String,
                      key: String): DataFrame = {
    val l = left.select(col(lId).as("l_id"), col(key),
      unix_micros(col(lTs)).as("l_us"))
    val r = right.select(col(rId).as("r_id"), col(key),
      unix_micros(col(rTs)).as("r_us"))
    l.join(r, key)
      .groupBy(col("l_id"), col(key))
      .agg(min(expr("abs(r_us - l_us) div 1000") * lit(10000000L)
        + col("r_id")).as("mk"))
      .select(col("l_id"), col(key),
        (col("mk") % 10000000L).as("r_id"),
        expr("mk div 10000000").as("diff_ms"))
  }

  /** The SCD2 interval table q112 declares, as DuckDB SQL over the
    * orders relation `rel`; q143 checks against it over its post-delta
    * orders. */
  private def scd2Sql(rel: String): String =
    s"""WITH h AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
             lag(o_orderstatus) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS prev_status
           FROM $rel
         ), chg AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
           FROM h
           WHERE prev_status IS NULL OR prev_status <> o_orderstatus
         )
         SELECT o_custkey, o_orderstatus AS status,
           o_orderdate AS valid_from, o_orderkey,
           coalesce(lead(o_orderdate) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             TIMESTAMP '2100-01-01 00:00:00') AS valid_to,
           CAST(CASE WHEN lead(o_orderdate) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
         FROM chg
         ORDER BY o_custkey, valid_from, o_orderkey"""

  /** q98's correlated EXISTS: the oracle and the Spark SQL the row runs. */
  private val existsSql =
    """SELECT c_custkey, c_name
         FROM customer c
         WHERE EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
         ORDER BY c_custkey"""

  /** q82's LATERAL join: the oracle and the Spark SQL the row runs. */
  private val lateralSql =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM customer c, LATERAL (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
         WHERE c.c_custkey % 10 = 0
         ORDER BY c.c_custkey, o.o_orderkey"""

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
    }),

    /** q84: the [[Skew]] salted-join skew mitigation as a DECLARED
      * query: lineitem ⋈ part with an 8-way salt on the fact side,
      * then a brand rollup. The oracle is the PLAIN join — salting
      * must be invisible in the result, which is exactly the claim
      * SkewSpec proves on synthetic data and this query proves under
      * the driver's hash gate on real tables. */
    Query("q_join_skew_salted",
      """SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""")((s, d) => {
      val fact = lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_orderkey"), col("l_linenumber"))
      val dim = part(s, d)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Skew.saltedJoin(fact, dim, "l_partkey",
          Seq(col("l_orderkey"), col("l_linenumber")), nSalts = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), sumd2(col("l_quantity")).as("sum_qty"))
        .orderBy("p_brand")
    }),

    /** q98: correlated EXISTS subquery — the declarative form of the
      * semi join (q12 is the explicit DataFrame form): Catalyst
      * decorrelates the subquery into a LeftSemi join, which is the
      * point — users write the predicate, the engine picks the join. */
    Query("q_join_exists_subquery", existsSql)((s, d) =>
      runSql(s, d, existsSql)),

    /** q174: NEAREST AS-OF JOIN — q16's as-of join completed with
      * NEAREST semantics (absolute time distance, either direction):
      * each error event finds its user's closest purchase. Determinism
      * is the q168 unique-key trick applied to an argmin under a
      * JOIN: the ordering key is the exact integer
      * |Δt| in ms · 10^7 + purchase_id (ms truncation bounds the key
      * ≪ 2^63; sub-ms ties then break by id — a total order both
      * engines agree on), and ONE min() recovers both the chosen
      * purchase and its distance by integer div/mod — never an FP
      * division (10^7·2.6e9 ms exceeds 2^53, an IEEE quotient would
      * corrupt the id). Per-user join fan-out is bounded by the
      * user's own history — embarrassingly parallel at 100 TB. */
    Query("q_join_asof_nearest",
      """WITH err AS (
           SELECT event_id AS e_id, user_id, epoch_us(ts) AS e_us
           FROM events WHERE event_type = 'error'
         ), pur AS (
           SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase'
         ), j AS (
           SELECT e_id, err.user_id AS user_id,
             min(abs(p_us - e_us) // 1000 * 10000000 + p_id) AS mk
           FROM err JOIN pur USING (user_id) GROUP BY e_id, err.user_id
         )
         SELECT e_id AS event_id, user_id,
           CAST(mk % 10000000 AS BIGINT) AS nearest_purchase_id,
           CAST(mk // 10000000 AS BIGINT) AS diff_ms
         FROM j ORDER BY event_id""")((s, d) => {
      val ev = events(s, d)
      nearestAsofJoin(
        ev.filter(col("event_type") === "error"), "event_id", "ts",
        ev.filter(col("event_type") === "purchase"), "event_id", "ts",
        "user_id")
        .select(col("l_id").as("event_id"), col("user_id"),
          col("r_id").as("nearest_purchase_id"), col("diff_ms"))
        .orderBy("event_id")
    }),

    /** q196: NULL-AWARE ANTI JOIN — `NOT IN (subquery)` under
      * three-valued logic, the classic SQL footgun pinned as a
      * declared row: the 'no_null' branch is a plain anti join
      * (non-null subquery), while the 'with_null' branch injects one
      * NULL into the subquery and must return ZERO rows — x NOT IN
      * (…, NULL) is never TRUE. Catalyst plans this as the
      * null-aware anti join (broadcast single-column NAAJ /
      * BroadcastNestedLoopJoin), a different physical operator from
      * q13's LeftAnti — both engines implement the same standard
      * semantics, so the hash pins them. Runs through spark.sql
      * (NOT IN is not expressible in the Column DSL). */
    Query("q_join_null_aware_anti",
      """SELECT 'no_null' AS variant, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
         FROM lineitem
         WHERE l_suppkey NOT IN
           (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000)
         UNION ALL
         SELECT 'with_null', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT l_suppkey) AS BIGINT)
         FROM lineitem
         WHERE l_suppkey NOT IN
           (SELECT CASE WHEN s_acctbal <= 5000 THEN NULL
                        ELSE s_suppkey END
            FROM supplier)
         ORDER BY variant""")((s, d) => {
      lineitem(s, d).createOrReplaceTempView("g196_lineitem")
      supplier(s, d).createOrReplaceTempView("g196_supplier")
      s.sql("""
        SELECT 'no_null' AS variant, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        FROM g196_lineitem
        WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM g196_supplier WHERE s_acctbal > 5000)
        UNION ALL
        SELECT 'with_null', CAST(count(*) AS BIGINT),
          CAST(count(DISTINCT l_suppkey) AS BIGINT)
        FROM g196_lineitem
        WHERE l_suppkey NOT IN
          (SELECT CASE WHEN s_acctbal <= 5000 THEN NULL
                       ELSE s_suppkey END
           FROM g196_supplier)
        ORDER BY variant""")
    }),

    /** q78: range/interval join — events bucketed into static value
      * intervals [lo, hi). The bucket table broadcasts, so the range
      * condition evaluates in a broadcast nested-loop with NO shuffle
      * of the fact side — the scale shape for dim-sized interval
      * tables. (Interval tables that are themselves fact-sized need a
      * bucketing/binning pre-join instead.) */
    Query("q_join_range",
      """WITH buckets AS (
           SELECT i AS bucket, i * 10.0 AS lo, (i + 1) * 10.0 AS hi
           FROM range(0, 10) t(i)
         )
         SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events e JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
         GROUP BY bucket ORDER BY bucket""")((s, d) => {
      import s.implicits._
      val buckets = (0 until 10)
        .map(i => (i.toLong, i * 10.0, (i + 1) * 10.0))
        .toDF("bucket", "lo", "hi")
      events(s, d)
        .join(broadcast(buckets),
          col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("bucket")
    }),

    /** q82: LATERAL join — correlated subquery in FROM (top-2 orders
      * per customer for a deterministic customer subset): per-row
      * parameterized subplans, the join surface that window-rank
      * rewrites don't literally express. Catalyst decorrelates it
      * into a ranked join under the hood. */
    Query("q_join_lateral", lateralSql)((s, d) =>
      runSql(s, d, lateralSql)),

    /** q124: TEMPORAL point-in-interval join — "which dimension
      * version was active when this fact row occurred": every order
      * probes its customer's SCD2 interval table (q112's output,
      * shared via [[scd2Of]]) on valid_from <= date < valid_to. The
      * intervals partition each customer's timeline, so every order
      * matches EXACTLY ONE version — the q112-build → q124-use pair is
      * the full dimension-maintenance story. Scale shape: the interval
      * table is change-row-sized (dimension-scale), so it broadcasts;
      * the fact side streams map-only through the equi-key + range
      * predicate — no fact shuffle (the q78 range-join rule applied to
      * versioned dimensions). */
    Query("q_join_temporal",
      """WITH h AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
             lag(o_orderstatus) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS prev_status
           FROM orders
         ), chg AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
           FROM h
           WHERE prev_status IS NULL OR prev_status <> o_orderstatus
         ), scd2 AS (
           SELECT o_custkey AS c, o_orderstatus AS status,
             o_orderdate AS valid_from,
             coalesce(lead(o_orderdate) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               TIMESTAMP '2100-01-01 00:00:00') AS valid_to
           FROM chg
         )
         SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           s.status, s.valid_from
         FROM orders o JOIN scd2 s
           ON s.c = o.o_custkey
           AND o.o_orderdate >= s.valid_from
           AND o.o_orderdate < s.valid_to
         ORDER BY o.o_orderkey""")((s, d) => {
      val iv = scd2Of(s, d)
        .select(col("o_custkey").as("c"), col("status"),
          col("valid_from"), col("valid_to"))
      val facts = orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      facts.join(broadcast(iv),
          facts("o_custkey") === iv("c") &&
            facts("o_orderdate") >= iv("valid_from") &&
            facts("o_orderdate") < iv("valid_to"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("status"), col("valid_from"))
        .orderBy("o_orderkey")
    }),

    /** q112: SCD TYPE-2 interval compaction [P §3 applied to
      * dimension maintenance] — collapse each customer's order-status
      * history into validity intervals: keep only CHANGE rows (status
      * differs from the previous order), then close each interval at
      * the next change's date (open intervals get the 2100-01-01
      * sentinel — NULL-free so the total order is engine-agnostic).
      * Two windows over one (custkey; date, orderkey) sort — again a
      * single shuffle — and the change filter shrinks the second
      * window's input to the compacted rows. */
    Query("q_incr_scd2", scd2Sql("orders"))((s, d) =>
      scd2Of(s, d).orderBy("o_custkey", "valid_from", "o_orderkey")),

    /** q143: SCD Type-2 dimension maintenance under a SIGNED delta
      * [P §3] — q112's interval table kept incrementally when order
      * history both GROWS (late-arriving orders, o_orderdate >= the
      * cut) and RETRACTS (base orders with o_orderkey % 10 == 1 —
      * the correction/erasure shape). Interval construction is
      * custkey-local, so the affected set is the union of the delta's
      * custkey sets; untouched customers' intervals pass through,
      * touched customers rebuild from their post-delta history — a
      * retraction can MERGE adjacent intervals (the retracted order
      * carried the status change) or re-open a closed one, so the
      * group re-run is the only rule consistent with the
      * change-compaction semantics. Oracle = q112's full SCD2 SQL
      * over the post-delta orders: result-invisible. */
    Query("q_incr_scd2_delete", scd2Sql("(SELECT * FROM orders WHERE NOT " +
        "(o_orderdate < TIMESTAMP '1998-01-01' AND o_orderkey % 10 = 1))"))((s, d) => {
      val cut = lit("1998-01-01").cast("timestamp")
      val o = orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderstatus"))
      val delta = Delta.cut(o, col("o_orderdate") < cut, "o_orderkey")
      Maintain.groupRecompute(delta.base, delta.post, Seq("o_custkey"),
          delta.touchedKeys("o_custkey"))(scd2OfRows)
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    }),

    /** q92: incremental maintenance of an AGGREGATED JOIN VIEW — the
      * MRBGraph view-maintenance semantics [P §3] one level up from
      * q46's flat merge: revenue-per-nation over lineitem⋈supplier⋈
      * nation is kept as a stored aggregate; a shipdate-delta arrives
      * and only the DELTA is joined and aggregated, then merged into
      * the base view by re-summing the partial aggregates (count and
      * decimal sum are associative, so merge == full recompute — the
      * oracle IS the full recompute). At 100 TB the base branch is a
      * read of the materialized view, not a recompute; the plan shape
      * of the incremental branch (delta ⋈ broadcast dim → partial
      * agg → merge) is what scales. */
    Query("q_incr_join_view",
      """SELECT n_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""")((s, d) => {
      val cut = lit("1999-01-01").cast("timestamp")
      val dim = supplier(s, d)
        .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      def view(rows: DataFrame): DataFrame = rows
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_extendedprice"))).as("rev"))
      val delta = Delta(lineitem(s, d), col("l_shipdate") < cut,
        col("l_shipdate") >= cut, lit(false)).map(view)
      delta.base.unionByName(delta.inserts)
        .groupBy("n_name")
        .agg(sum(col("n")).as("n"), dbl(sum(col("rev"))).as("rev"))
        .orderBy("n_name")
    }),

    /** q142: SIGNED incremental maintenance of an aggregated join
      * view [P §3 — the full '+'/'-' delta model on q92's
      * MRBGraph-style view]: retracted base fact rows enter the merge
      * as NEGATED partial aggregates (−count, −revenue) alongside the
      * insert delta's positives — the textbook incremental-view-
      * maintenance rule, expressible because count and exact-decimal
      * sum form an abelian group (subtraction is a real inverse,
      * unlike min/max — which is why dedup/CC needed group-level
      * recomputes instead). Groups whose live multiplicity hits 0
      * VANISH (the n > 0 filter — the classic IVM subtlety: without
      * carried multiplicity an empty group and a zero-sum group are
      * indistinguishable; `Round8Spec` proves the vanish on a
      * synthetic where a nation's only rows retract). Base/insert/
      * retract each join the broadcast dim and pre-aggregate
      * partially — at 100 TB the base branch is a materialized-view
      * read and the signed branches are delta-sized. Oracle = the
      * full view over the post-delta fact rows. */
    Query("q_incr_join_view_delete",
      // q142's oracle is q92's full-view SQL over the POST-DELTA fact
      // rows: the signed (negative-multiplicity) merge must be
      // result-invisible.
      """SELECT n_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE NOT (l_shipdate < TIMESTAMP '1999-01-01'
                    AND l_orderkey % 10 = 1)
         GROUP BY n_name ORDER BY n_name""")((s, d) => {
      val cut = lit("1999-01-01").cast("timestamp")
      val dim = supplier(s, d)
        .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      def view(rows: DataFrame): DataFrame = rows
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_extendedprice"))).as("rev"))
      val delta = Delta.cut(lineitem(s, d), col("l_shipdate") < cut,
        "l_orderkey")
      viewApplyDelta(view(delta.base), view(delta.inserts),
          view(delta.deletes))
        .orderBy("n_name")
    }),
    /** q153: the COMPOSITE UPDATE delta [P §3: update = delete +
      * insert on the same key] against q92/q142's aggregated join
      * view, all three delta shapes in ONE signed batch: plain
      * inserts (facts at shipdate >= the cut), plain updates (base
      * facts with l_orderkey % 10 == 3 get their price corrected by
      * +1.00 — the OLD version enters the merge as a retraction, the
      * NEW version as an insertion, same keys on both sides), and the
      * merge is the SAME [[viewApplyDelta]] as q142 — update
      * needs no third flag, exactly as the paper defines it. Group
      * keys whose rows are only revalued keep multiplicity (the −n/+n
      * cancel) while their sums move by the correction — the
      * abelian-group property doing the work. Oracle = the full view
      * over the post-update facts: the composite delta must be
      * result-invisible. */
    Query("q_incr_view_update",
      // q153's oracle is the full view over the POST-UPDATE facts: every
      // l_orderkey % 10 == 3 base row carries its corrected price, the
      // delta rows appear, nothing else moves.
      """SELECT n_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CASE WHEN l_shipdate < TIMESTAMP '1999-01-01'
                               AND l_orderkey % 10 = 3
                              THEN l_extendedprice + 1.0
                              ELSE l_extendedprice END
                    AS DECIMAL(18,2))) AS DOUBLE) AS rev
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""")((s, d) => {
      val cut = lit("1999-01-01").cast("timestamp")
      val dim = supplier(s, d)
        .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      def view(rows: DataFrame): DataFrame = rows
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_extendedprice"))).as("rev"))
      // an update deletes the old version and inserts the new one
      val delta = Delta(lineitem(s, d), col("l_shipdate") < cut,
        col("l_shipdate") >= cut, col("l_orderkey") % 10 === 3)
      val updNew = delta.deletes
        .withColumn("l_extendedprice", col("l_extendedprice") + lit(1.0))
      viewApplyDelta(view(delta.base),
          view(delta.inserts).unionByName(view(updNew)),
          view(delta.deletes))
        .orderBy("n_name")
    }),

    /** q75: snapshot diff [P §3] — compare per-user aggregate state
      * across two event windows (before/after the cutoff): the
      * kv-store view of incremental processing. Exact decimal sums;
      * one double emission for the delta. */
    Query("q_incr_snapshot_diff",
      s"""WITH a AS (
           SELECT user_id, sum(CAST(ROUND(value,2) AS DECIMAL(18,2))) AS ta
           FROM events WHERE ts < TIMESTAMP '${Scalars.cutoff}' GROUP BY user_id
         ), b AS (
           SELECT user_id, sum(CAST(ROUND(value,2) AS DECIMAL(18,2))) AS tb
           FROM events WHERE ts >= TIMESTAMP '${Scalars.cutoff}' GROUP BY user_id
         )
         SELECT coalesce(a.user_id, b.user_id) AS user_id,
           CASE WHEN a.ta IS NULL THEN 'added'
                WHEN b.tb IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           CAST(coalesce(a.ta, 0) AS DOUBLE) AS before_sum,
           CAST(coalesce(b.tb, 0) AS DOUBLE) AS after_sum,
           CAST(coalesce(b.tb, 0) - coalesce(a.ta, 0) AS DOUBLE) AS delta
         FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
         ORDER BY user_id""")((s, d) => {
      val cut = lit(Scalars.cutoff).cast("timestamp")
      val delta = Delta(events(s, d), col("ts") < cut, col("ts") >= cut,
        lit(false))
      val a = delta.base.groupBy("user_id")
        .agg(sum(dec2(col("value"))).as("ta"))
      val b = delta.inserts.groupBy("user_id")
        .agg(sum(dec2(col("value"))).as("tb"))
      a.join(b, Seq("user_id"), "full")
        .select(col("user_id"),
          when(col("ta").isNull, lit("added"))
            .when(col("tb").isNull, lit("removed"))
            .otherwise(lit("changed")).as("status"),
          dbl(coalesce(col("ta"), lit(0).cast("decimal(18,2)"))).as("before_sum"),
          dbl(coalesce(col("tb"), lit(0).cast("decimal(18,2)"))).as("after_sum"),
          dbl(coalesce(col("tb"), lit(0).cast("decimal(18,2)"))
            - coalesce(col("ta"), lit(0).cast("decimal(18,2)"))).as("delta"))
        .orderBy("user_id")
    })
  )
}
