package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Dec
import org.apache.spark.sql.expressions.Window
import graft.engine.{Memos, Query}
import graft.engine.Tables._
import graft.engine.Dec._
import graft.incr.Delta

/** Round-2 coverage extensions to SURVEY.md §2: distribution window
  * functions, boolean/conditional aggregates, regexp and bitwise
  * scalar surfaces, a snapshot-diff incremental operator [P §3], and
  * the IVF ANN scale path promoted to a declared query.
  *
  * All oracle-checked rows follow D1–D7 (Tables.Dec scaladoc):
  * integer/decimal internals, one IEEE double emission at the
  * boundary, unique total ORDER BY. */
object Extras {

  private val cutoff = "2024-01-20"

  // ================================================================
  // former Round10 module (merged r13, pure move)
  // ================================================================

  /** Round-10 extensions (SURVEY.md §2 rows 155–156), both closing
    * VERDICT r9 gaps:
    *  - q155 `q_fn_ts_absolute`: an ABSOLUTE-time anchor query over the
    *    event stream. Every other events-time query is either
    *    ordering-invariant (funnel, as-of) or fails the oracle with an
    *    opaque row-count diff when the fixture's timestamp unit skews
    *    (the r9 regression: 12 red rows, zero direct evidence). This
    *    row outputs raw timestamp bounds AND counts against a fixed
    *    wall-clock literal, so a unit-skewed ingest fails HERE with
    *    visibly-1970 values — the oracle-side complement of
    *    FixtureContractSpec.
    *  - q156 `q_source_csv_json`: the CSV/JSON source capability as a
    *    declared oracle-checked surface instead of unit-test-only. */

  // ================================================================
  // former Round12i module (merged r13, pure move)
  // ================================================================

  /** Round-12 batch 13 (SURVEY §2 rows 243-248): equi-depth histogram
    * statistics (the ANALYZE-style optimizer input, completing the
    * stats family: equi-width q87, moments q70, profile q185, sketches
    * q81/q190/q209), GROUPING_ID subtotal disambiguation on rollups
    * (separating NULL-as-data from NULL-as-subtotal), time-INTERVAL
    * RANGE window frames, week-over-week top movers, and the Spark-4
    * VARIANT and collation engines as declared rows.
    *
    * Determinism: equi-depth buckets come from SQL-standard ntile over
    * the provably UNIQUE (cents, orderkey) order — identical in any
    * engine (the q222 argument); boundaries are actual data values
    * (min/max per bucket), all BIGINT. grouping_id is engine-identical
    * by the SQL standard's bit-vector definition.
    *
    * The reference tree is absent (SURVEY.md §0);
    * semantics follow SURVEY §2 rows 243-248.
    */

  /** Per-group equi-depth histogram: k buckets of near-equal row
    * count (sizes differ by ≤1 — ntile's contract), each reporting
    * its row count and ACTUAL value boundaries. One window sort +
    * one aggregate over a single group-keyed exchange. */
  def eqDepthHistogram(df: DataFrame, groupCol: String,
                       centsCol: String, keyCol: String,
                       k: Int): DataFrame = {
    require(k >= 1, s"bucket count must be >= 1, got $k")
    // Internal-name collision proofing (the gini discipline): a
    // caller value column named "bucket" must not be clobbered.
    val t = df.select(col(groupCol).as("_g"), col(centsCol).as("_x"),
      col(keyCol).as("_k"))
    val w = Window.partitionBy("_g").orderBy(col("_x"), col("_k"))
    t.withColumn("_b", ntile(k).over(w))
      .groupBy(col("_g"), col("_b"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("_x")).as("lo_cents"),
        max(col("_x")).as("hi_cents"))
      .select(col("_g").as(groupCol), col("_b").as("bucket"),
        col("n_rows"), col("lo_cents"), col("hi_cents"))
      .orderBy(groupCol, "bucket")
  }

  /** q273's dialect-common text (Spark executes it; DuckDB is the
    * oracle on the SAME string). */
  private val recursiveCteSql =
    """WITH RECURSIVE months AS (
         SELECT TIMESTAMP '1995-01-01' AS m
         UNION ALL
         SELECT m + INTERVAL 1 MONTH FROM months
         WHERE m < TIMESTAMP '2001-12-01'
       )
       SELECT m, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
              CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS revenue_cents
       FROM months LEFT JOIN orders
         ON date_trunc('month', o_orderdate) = m
       GROUP BY m ORDER BY m"""

  val queries: Seq[Query] = Seq(
    /** q71: distribution window functions — ntile/percent_rank/
      * cume_dist. The window orders by the unique o_orderkey, so rank
      * == row_number and both engines evaluate the same integer
      * ratios (one IEEE division each — D3-safe). */
    Query("q_win_ntile",
      """SELECT o_orderkey, o_custkey,
         ntile(4) OVER w AS nt,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_orderkey""")((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          ntile(4).over(w).as("nt"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderkey")
    }),

    /** q72: boolean + conditional aggregates per event_type —
      * bool_and/bool_or/count_if (reduce-side predicates [H]). */
    Query("q_agg_bool",
      """SELECT event_type,
         bool_and(value > 0) AS all_pos,
         bool_or(value > 99) AS any_big,
         CAST(count(*) FILTER (WHERE value > 50) AS BIGINT) AS n_over50,
         CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY event_type ORDER BY event_type""")((s, d) => {
      events(s, d)
        .groupBy("event_type")
        .agg(expr("bool_and(value > 0)").as("all_pos"),
          expr("bool_or(value > 99)").as("any_big"),
          expr("count_if(value > 50)").cast("bigint").as("n_over50"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    /** q73: regexp scalar surface — replace-all + first-group
      * extract. No-match results are normalized to 'NONE' on both
      * engines ('' in Spark, engine-dependent ''/NULL elsewhere). */
    Query("q_fn_regexp",
      """SELECT doc_id,
         CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
           AS novowel_len,
         coalesce(nullif(regexp_extract(text, '([a-z]{7,})', 1), ''), 'NONE')
           AS first_long_word,
         CAST(length(string_split_regex(text, '[aeiou]+')) AS BIGINT)
           AS vowel_runs
         FROM documents ORDER BY doc_id""")((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          length(regexp_replace(col("text"), "[aeiou]", "")).cast("bigint")
            .as("novowel_len"),
          coalesce(nullif(regexp_extract(col("text"), "([a-z]{7,})", 1), lit("")),
            lit("NONE")).as("first_long_word"),
          size(split(col("text"), "[aeiou]+")).cast("bigint").as("vowel_runs"))
        .orderBy("doc_id")
    }),

    /** q74: bitwise scalar surface over integer keys. */
    Query("q_fn_bitwise",
      """SELECT l_orderkey, l_linenumber,
         l_orderkey & 255 AS k_and,
         l_orderkey | 4096 AS k_or,
         xor(l_orderkey, l_suppkey) AS k_xor,
         CAST(l_linenumber << 3 AS BIGINT) AS ln_shl,
         CAST(bit_count(l_orderkey) AS BIGINT) AS k_bits
         FROM lineitem ORDER BY l_orderkey, l_linenumber""")((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_orderkey").bitwiseAND(lit(255L))).as("k_and"),
          (col("l_orderkey").bitwiseOR(lit(4096L))).as("k_or"),
          (col("l_orderkey").bitwiseXOR(col("l_suppkey"))).as("k_xor"),
          shiftleft(col("l_linenumber"), 3).cast("bigint").as("ln_shl"),
          bit_count(col("l_orderkey")).cast("bigint").as("k_bits"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    /** q75: snapshot diff [P §3] — compare per-user aggregate state
      * across two event windows (before/after the cutoff): the
      * kv-store view of incremental processing. Exact decimal sums;
      * one double emission for the delta. */
    Query("q_incr_snapshot_diff",
      s"""WITH a AS (
           SELECT user_id, sum(CAST(ROUND(value,2) AS DECIMAL(18,2))) AS ta
           FROM events WHERE ts < TIMESTAMP '$cutoff' GROUP BY user_id
         ), b AS (
           SELECT user_id, sum(CAST(ROUND(value,2) AS DECIMAL(18,2))) AS tb
           FROM events WHERE ts >= TIMESTAMP '$cutoff' GROUP BY user_id
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
      val cut = lit(cutoff).cast("timestamp")
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
    }),

    /** q76: IVF ANN — the bucketed similarity-search scale path as a
      * declared query (top-10 neighbors of vec 0, nprobe=3 of k=10
      * clusters). oracle=none (approximate by construction);
      * SimilaritySpec asserts recall vs the exact q52 top-k and
      * nprobe=k ≡ brute force. */
    Query("q_sim_ann_ivf")((s, d) =>
      // r18 opt: stored index via the session memo (build offline in
      // the declared production shape); search per invocation.
      graft.text.Similarity.ivfTopK(s, d,
        pre = Some(graft.text.Similarity.cachedIvfIndex(s, d, 10)))
        .drop("cluster")),

    /** q77: deterministic train/val/test split — the holdout
      * mechanism of a training-data pipeline. Assignment hashes the
      * KEY (md5, engine-portable), never a random(): reproducible
      * across runs, engines and cluster sizes, and stable under
      * re-partitioning. ~80/10/10 via the first hex byte
      * (< 0xcc / < 0xe6); output = per-(lang, split) counts, i.e. the
      * stratification report. */
    Query("q_sample_split",
      """SELECT lang,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         min(doc_id) AS min_doc
         FROM documents
         GROUP BY lang, split
         ORDER BY lang, split""")((s, d) => {
      documents(s, d)
        .withColumn("h2",
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2))
        .withColumn("split",
          when(col("h2") < "cc", "train")
            .when(col("h2") < "e6", "val")
            .otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("min_doc"))
        .orderBy("lang", "split")
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
    Query("q_join_lateral",
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM customer c, LATERAL (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
         WHERE c.c_custkey % 10 = 0
         ORDER BY c.c_custkey, o.o_orderkey""")((s, d) =>
      runSql(s, d, """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c.c_custkey % 10 = 0
        ORDER BY c.c_custkey, o.o_orderkey""")),

    /** q81: approximate percentiles — the sketch companion to q69's
      * exact percentiles (t-digest-style; at 100 TB the exact sort
      * per group is what you avoid). oracle=none (sketches differ
      * across engines); the spec bounds it against the exact values. */
    Query("q_agg_approx_percentile")((s, d) => {
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_quantity, 0.5, 1000)").as("p50_approx"),
          expr("approx_percentile(l_quantity, 0.9, 1000)").as("p90_approx"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    /** q80: UNPIVOT (inverse of q68's PIVOT) — wide numeric columns
      * to (key, metric, value) long form via the stack() generator;
      * map-only, no shuffle until the output sort. */
    Query("q_agg_unpivot",
      """SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value
         FROM orders
         UNION ALL
         SELECT o_orderkey, 'price' AS metric, o_totalprice AS value
         FROM orders
         ORDER BY o_orderkey, metric""")((s, d) => {
      orders(s, d)
        .selectExpr("o_orderkey",
          """stack(2, 'custkey', CAST(o_custkey AS DOUBLE),
                      'price', o_totalprice) AS (metric, value)""")
        .orderBy("o_orderkey", "metric")
    }),

    /** q79: RANGE window frame over event TIME (not row counts) —
      * per-user rolling 1-hour event count and exact-decimal sum.
      * The frame bound is integer µs on both engines. */
    Query("q_win_range_frame",
      """SELECT event_id, user_id,
         CAST(count(*) OVER w AS BIGINT) AS n_1h,
         CAST(sum(CAST(ROUND(value,2) AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""")((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      events(s, d)
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          dbl(sum(dec2(col("value"))).over(w)).as("sum_1h"))
        .orderBy("event_id")
    }),

    // former Round10 module rows (see the section scaladoc above)
    /** q155: per-type absolute time bounds + a fixed-cutoff count.
      * min/max pass raw TimestampType through to the output (any unit
      * error is directly visible in the dumped parquet), and the
      * 2024-01-15 literal comparison breaks under ANY skew — a
      * 1000x-too-small ts makes every row land before the cutoff. */
    Query("q_fn_ts_absolute",
      """SELECT event_type,
           min(ts) AS ts_min, max(ts) AS ts_max,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_2nd_half,
           CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY event_type ORDER BY event_type""")((s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(min(col("ts")).as("ts_min"),
          max(col("ts")).as("ts_max"),
          sum(when(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"),
            1L).otherwise(0L)).as("n_2nd_half"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    /** q156: CSV + JSON source surface as a DECLARED query (VERDICT r9
      * gap 2: the formats were unit-test-only). The dims round-trip
      * through both text formats BEFORE the join-aggregate — header
      * CSV for nation, line-JSON for region, explicit schemas (the
      * production pattern: never infer on a 100 TB lake) — so any
      * read-path defect (quoting, null encoding, type coercion)
      * breaks the oracle hash, which is computed from the parquet
      * originals. Scratch is a fixed per-fixture temp dir, mode
      * OVERWRITE: repeated invocations never accumulate files. Dims
      * only — at scale the text-format pattern is identical, just
      * partitioned; nothing here assumes a single file. */
    Query("q_source_csv_json",
      // q156's oracle reads the parquet originals — the Spark side must
      // produce identical values through the CSV/JSON round-trip.
      """SELECT r_name,
           CAST(count(*) AS BIGINT) AS n_nations,
           min(n_name) AS first_nation
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""")((s, d) => {
      val scratch = Memos.scratchDir(s, d, "srcmix")
      val nat = nation(s, d)
      val reg = region(s, d)
      nat.write.mode("overwrite").option("header", "true")
        .csv(s"$scratch/nation_csv")
      reg.write.mode("overwrite").json(s"$scratch/region_json")
      val natBack = s.read.option("header", "true").schema(nat.schema)
        .csv(s"$scratch/nation_csv")
      val regBack = s.read.schema(reg.schema).json(s"$scratch/region_json")
      natBack.join(broadcast(regBack),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          min("n_name").as("first_nation"))
        .orderBy("r_name")
    }),

    // former Round12i module rows (see the section scaladoc above)
    /** q243: EQUI-DEPTH HISTOGRAM [T stats surface] — per order
      * priority: 4 buckets of near-equal count over cent-scaled
      * order totals, each with its ACTUAL value boundaries — the
      * ANALYZE-style stats an optimizer consumes (selectivity from
      * depth, boundaries from data), complementing the equi-WIDTH
      * q87 (fixed ranges, varying counts). ntile over the unique
      * (cents, orderkey) order is SQL-standard and engine-identical. */
    Query("q_agg_histogram_eqdepth",
      """WITH t AS (
           SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  o_orderkey
           FROM orders
         ), b AS (
           SELECT o_orderpriority, cents,
                  ntile(4) OVER (PARTITION BY o_orderpriority
                    ORDER BY cents, o_orderkey) AS bucket
           FROM t
         )
         SELECT o_orderpriority, CAST(bucket AS INT) AS bucket,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(min(cents) AS BIGINT) AS lo_cents,
                CAST(max(cents) AS BIGINT) AS hi_cents
         FROM b GROUP BY 1, 2
         ORDER BY o_orderpriority, bucket""")((s, d) =>
      eqDepthHistogram(
        orders(s, d).select(col("o_orderpriority"),
          (Dec.dec2(col("o_totalprice")) * 100).cast("long").as("cents"),
          col("o_orderkey")),
        "o_orderpriority", "cents", "o_orderkey", k = 4)),

    /** q244: GROUPING_ID SUBTOTAL DISAMBIGUATION [T relational
      * surface] — the rollup correctness tool q20 left implicit: a
      * rollup over nullable-looking dims cannot distinguish a data
      * NULL from a subtotal NULL by inspection; grouping_id's
      * standard bit vector (1 bit per dim, set when the dim is
      * rolled up) makes every subtotal level explicit and
      * engine-identical. Rollup over (returnflag, linestatus) with
      * counts and exact cent sums per level. */
    Query("q_agg_grouping_id",
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag) * 2
                   + GROUPING(l_linestatus) AS BIGINT) AS gid,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * 100 AS BIGINT)) AS BIGINT) AS cents_sum
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag, l_linestatus""")((s, d) =>
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          (Dec.dec2(col("l_extendedprice")) * 100).cast("long")
            .as("cents"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n_rows"),
          sum(col("cents")).as("cents_sum"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))),

    /** q245: TIME-INTERVAL RANGE FRAME [T window surface] — per
      * event: count and exact cent sum of the SAME user's events in
      * the trailing ONE HOUR, via a RANGE frame bounded by a
      * calendar INTERVAL on the timestamp order — the time-based
      * frame q79's numeric RANGE cannot express without manual
      * epoch conversion. RANGE (not ROWS) makes tied timestamps
      * peers in both engines, so the frame content is deterministic
      * even under ts duplicates. One user-keyed exchange + sort. */
    Query("q_win_time_range",
      """SELECT event_id, user_id, ts,
                CAST(count(*) OVER w AS BIGINT) AS n_1h,
                CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w
                  AS BIGINT) AS cents_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
         ORDER BY event_id""")((s, d) => {
      events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * lit(100)).cast("long").as("cents"))
        .selectExpr("event_id", "user_id", "ts",
          """count(*) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
             AS n_1h""",
          """sum(cents) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
             AS cents_1h""")
        .orderBy("event_id")
    }),

    /** q246: WEEK-OVER-WEEK TOP MOVERS [T time-series analytics] —
      * per ISO week and event type: this week's count, the previous
      * observed week's (lag over the contiguous weekly series), the
      * exact delta, and the rank of that delta within the week
      * (unique (delta desc, type) order) — the "what changed"
      * dashboard readout. Facts reduce to |weeks|·|types| in ONE
      * exchange; windows run on the dimension. First observed week
      * is excluded (no predecessor). */
    Query("q_ts_top_movers",
      """WITH weekly AS (
           SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                  event_type, count(*) AS n
           FROM events GROUP BY 1, 2
         ), lagged AS (
           SELECT week, event_type, n,
                  lag(n, 1) OVER (PARTITION BY event_type
                    ORDER BY week) AS prev_n
           FROM weekly
         )
         SELECT week, event_type, CAST(n AS BIGINT) AS n,
                CAST(prev_n AS BIGINT) AS prev_n,
                CAST(n - prev_n AS BIGINT) AS delta,
                CAST(rank() OVER (PARTITION BY week
                  ORDER BY n - prev_n DESC, event_type) AS INT) AS rnk
         FROM lagged WHERE prev_n IS NOT NULL
         ORDER BY week, rnk""")((s, d) => {
      val weekly = events(s, d)
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val wLag = Window.partitionBy("event_type").orderBy("week")
      val wRank = Window.partitionBy("week")
        .orderBy(col("delta").desc, col("event_type"))
      weekly.withColumn("prev_n", lag(col("n"), 1).over(wLag))
        .filter(col("prev_n").isNotNull)
        .withColumn("delta", col("n") - col("prev_n"))
        .withColumn("rnk", rank().over(wRank))
        .select(col("week"), col("event_type"), col("n"),
          col("prev_n"), col("delta"), col("rnk"))
        .orderBy("week", "rnk")
    }),

    /** q247: VARIANT SEMI-STRUCTURED PATH [T scalar surface] — the
      * Spark-4 VARIANT type end to end: parse_json into the binary
      * variant encoding ONCE, then typed extraction
      * (variant_get(…, '$.k', 'bigint')) and missing-path semantics
      * (try_variant_get on an absent field → NULL, counted per
      * group). The open-schema answer q39's string-re-parsing
      * get_json_object approximates: at 100 TB the variant binary
      * parses once at ingest, and every later extraction is a typed
      * binary probe, not a JSON re-parse. Values are exact BIGINTs
      * — engine-identical. */
    Query("q_fn_variant",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN json_extract(props, '$.absent')
                  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
         FROM events GROUP BY 1 ORDER BY k""")((s, d) => {
      events(s, d)
        .selectExpr("parse_json(props) AS v")
        .selectExpr("variant_get(v, '$.k', 'bigint') AS k",
          "try_variant_get(v, '$.absent', 'bigint') AS miss")
        .groupBy("k")
        .agg(count(lit(1)).as("n"),
          sum(when(col("miss").isNull, 1L).otherwise(0L))
            .as("n_missing"))
        .orderBy("k")
    }),

    /** q248: COLLATION-AWARE GROUPING [T scalar surface] — the
      * Spark-4 collation engine end to end: event types are
      * case-mangled (even event_ids upper-cased), then grouped under
      * UTF8_LCASE so 'CLICK' and 'click' merge WITHOUT a normalizing
      * rewrite of the data — the i18n/dirty-data grouping a plain
      * binary GROUP BY cannot express. The group representative
      * under a case-insensitive collation is first-seen (engine
      * nondeterministic), so the OUTPUT key is lower()-normalized;
      * the upper-variant count per group pins that the merge really
      * crossed case. */
    Query("q_fn_collate",
      """SELECT lower(mixed) AS event_type_ci,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(was_upper) AS BIGINT) AS n_upper
         FROM (
           SELECT CASE WHEN event_id % 2 = 0
                    THEN upper(event_type) ELSE event_type END AS mixed,
                  CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END
                    AS was_upper
           FROM events
         ) GROUP BY 1 ORDER BY event_type_ci""")((s, d) => {
      events(s, d)
        .select(expr("""CASE WHEN event_id % 2 = 0
            THEN upper(event_type) ELSE event_type END""").as("mixed"),
          (col("event_id") % 2 === 0).cast("long").as("was_upper"))
        .groupBy(expr("collate(mixed, 'UTF8_LCASE')").as("tci"))
        .agg(count(lit(1)).as("n"), sum(col("was_upper")).as("n_upper"))
        .select(lower(col("tci")).as("event_type_ci"), col("n"),
          col("n_upper"))
        .orderBy("event_type_ci")
    }),

    /** q273: RECURSIVE CTE calendar spine (Spark-4 surface row, like
      * VARIANT q247 / collation q248) — the warehouse pattern SQL
      * recursion exists for: generate the complete month dimension by
      * UNION ALL self-reference (84 iterations, far under Spark's
      * recursion-level limit; Spark 4.x executes it as a UnionLoop
      * plan) and LEFT JOIN facts onto the spine so ZERO-ACTIVITY
      * months survive with (0, NULL) — the rows a facts-only groupBy
      * structurally cannot produce (the fixture's 2001-09..12 tail is
      * exactly such months, so the hash pins the retention). One
      * dialect-common text for both engines, the TpcH discipline;
      * UNION-distinct recursion is not yet in Spark and is documented
      * out of scope. */
    Query("q_sql_recursive_cte", recursiveCteSql)((s, d) =>
      runSql(s, d, recursiveCteSql)),

    /** q274: SQL-DEFINED SCALAR FUNCTION (Spark-4 surface row — the
      * declarative UDF tier ABOVE the engine's extension ladder: the
      * function body is SQL, so Catalyst inlines it into the plan and
      * it stays inside whole-stage codegen, unlike the JVM-closure
      * UDF surface q54 declares). `disc_price` encapsulates the
      * engine's exact-decimal money rule once and every caller
      * inherits it — the governance use case for SQL UDFs. The oracle
      * runs the INLINED expression (DuckDB's macro syntax differs;
      * the hash proves Spark's function dispatch ≡ inlining, which is
      * precisely the feature's contract). */
    Query("q_fn_sql_udf",
      // q274's oracle inlines the SQL UDF body (DuckDB's macro syntax
      // differs; the hash proves dispatch ≡ inlining).
      """SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2))))
               AS DOUBLE) AS disc_revenue
         FROM lineitem
         GROUP BY l_returnflag ORDER BY l_returnflag""")((s, d) => {
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION disc_price(
            p DOUBLE, disc DOUBLE) RETURNS DECIMAL(38,4)
          RETURN CAST(p AS DECIMAL(18,2))
                 * (1 - CAST(disc AS DECIMAL(4,2)))""")
      runSql(s, d, """SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(disc_price(l_extendedprice, l_discount))
               AS DOUBLE) AS disc_revenue
           FROM lineitem
           GROUP BY l_returnflag ORDER BY l_returnflag""")
    })
  )
}
