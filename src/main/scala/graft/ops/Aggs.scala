package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.{Query, Memos, Dec}
import graft.engine.Tables._
import graft.engine.Dec._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import graft.incr.{Delta, Maintain}

/** §2 group D — aggregation. Spark's HashAggregateExec does the
  * partial/final split automatically — the hand-written combiner the
  * reference requires of users (SURVEY.md §2 row 17, paper [P §2]).
  *
  * Numeric discipline (see graft.engine.Dec): money sums accumulate in
  * exact decimal (order-independent under shuffle), then the final
  * value is CAST to DOUBLE — bit-identical with the DuckDB oracle.
  * Integer sums are CAST(... AS BIGINT) on the DuckDB side because
  * DuckDB widens to HUGEINT, which pandas would render as float.
  *
  * The statistics family lives here too — moments, medians,
  * histograms, sketches (HLL, Count-Min), diversity and column
  * profiles — each incremental twin beside the batch row it must
  * equal. */
object Aggs {

  private val decQty  = "CAST(ROUND(l_quantity,2) AS DECIMAL(18,2))"
  private val decExt  = "CAST(ROUND(l_extendedprice,2) AS DECIMAL(18,2))"
  private val decDisc = "CAST(ROUND(1 - l_discount,4) AS DECIMAL(8,4))"
  private val decTax  = "CAST(ROUND(1 + l_tax,4) AS DECIMAL(8,4))"


  /** Per-value counts (v, n) of column `c` — one leg of the profile
    * state. */
  private def valueCounts(df: DataFrame, c: String): DataFrame = df
    .groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))

  /** GENERIC incremental profile merge from a PRE-BUILT base state
    * (the partials store a production run reads back): signed merge
    * of base counts with insert/delete value counts; zero-count
    * values vanish. */
  def valueCountStateFrom(baseCounts: DataFrame, insert: DataFrame,
                          delete: DataFrame, c: String): DataFrame =
    Maintain.signedMerge(Seq("v"), Seq("n"),
      Seq(baseCounts, valueCounts(insert, c)), Seq(valueCounts(delete, c)))(
      col("n") > 0)

  /** GENERIC incremental profile state: per-value counts of column
    * `c` — the exact-NDV preserved state [P §3]. Signed merge of
    * base/insert/delete value counts; zero-count values vanish. */
  def valueCountState(base: DataFrame, insert: DataFrame,
                      delete: DataFrame, c: String): DataFrame =
    valueCountStateFrom(valueCounts(base, c), insert, delete, c)

  /** Profile row (q185 shape) derived from a per-value count state —
    * every statistic is a fold over the NDV-sized state, never the
    * corpus: n_rows = Σn, NDV = |state|, min/max over values, exact
    * decimal sum as Σ v·n. */
  def profileOfState(state: DataFrame, colName: String): DataFrame =
    state.agg(lit(colName).as("col_name"),
      sum(col("n")).as("n_rows"),
      count(lit(1)).as("n_distinct"),
      min(col("v")).as("min_v"), max(col("v")).as("max_v"),
      dbl(sum(dec2(col("v")) * col("n"))).as("sum_v"))

  /** GENERIC column profiling (q185 on caller columns): per named
    * column one row (col_name, n_rows, n_distinct, min_v, max_v,
    * sum_v) — a union of single-column aggregates (each branch scans
    * one pruned column; see the q185 scaladoc for the A/B vs the
    * multi-distinct Expand plan). Columns must be numeric with ≤2
    * decimal places for the exact-decimal sum. */
  def profileStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    def prof(c: String) = df.select(col(c)).agg(
      lit(c).as("col_name"),
      count(lit(1)).as("n_rows"),
      count_distinct(col(c)).as("n_distinct"),
      min(col(c)).as("min_v"), max(col(c)).as("max_v"),
      dbl(sum(dec2(col(c)))).as("sum_v"))
    cols.map(prof).reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------
  // q209 kernel: Count-Min sketch
  // ---------------------------------------------------------------

  /** GENERIC Count-Min sketch build: `depth` hash rows × `width`
    * counters over `keyCol` occurrences, as a (row, bucket, n)
    * relation. Each input row explodes to `depth` (row, bucket)
    * cells (xxhash64 salted by the row index — codegen'd, no UDF),
    * then ONE partial-aggregated shuffle of at most depth·width
    * groups. The sketch is MERGEABLE by construction (counter-wise
    * sum), which is the 100 TB story: partitions/days/sources sketch
    * independently and the union groupBy IS the merge —
    * `Round12eSpec` proves merge(sketch(A), sketch(B)) ≡
    * sketch(A ∪ B) exactly. */
  def cmsBuild(df: DataFrame, keyCol: String, depth: Int,
               width: Int): DataFrame = {
    require(depth > 0 && width > 0,
      s"CMS needs positive depth/width (got $depth x $width) — width 0 " +
        "would NULL every bucket and estimate 0 for all keys")
    df.select(col(keyCol).as("k"))
      .select(explode(expr(s"sequence(0, ${depth - 1})")).as("row"),
        col("k"))
      .select(col("row"),
        pmod(xxhash64(col("row"), col("k")), lit(width)).as("bucket"))
      .groupBy("row", "bucket").agg(count(lit(1)).as("n"))
  }

  /** Point estimates from a CMS relation for every key in `probes`:
    * est(k) = min over rows of counter[row][h_row(k)] — the classic
    * never-underestimates bound. The probe side is |probes|·depth
    * rows joined against the ≤ depth·width-cell sketch (broadcast). */
  def cmsEstimate(cms: DataFrame, probes: DataFrame,
                  keyCol: String, depth: Int, width: Int): DataFrame = {
    require(depth > 0 && width > 0,
      s"CMS needs positive depth/width (got $depth x $width)")
    probes.select(col(keyCol).as("k"))
      .select(explode(expr(s"sequence(0, ${depth - 1})")).as("row"),
        col("k"))
      .select(col("k"), col("row"),
        pmod(xxhash64(col("row"), col("k")), lit(width)).as("bucket"))
      .join(broadcast(cms), Seq("row", "bucket"), "left")
      .groupBy("k")
      .agg(min(coalesce(col("n"), lit(0L))).as("est_n"))
  }

  /** The fixture corpus's CLOSED language domain — pinned so the
    * diversity rows can pivot to fixed columns and evaluate the
    * index as one exact integer expression. Round18bSpec asserts the
    * fixture never grows a sixth language; production swaps the
    * pinned pivot for a per-(group,lang) Σc² aggregate with zero
    * plan change. */
  val Langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Language-mixture diversity over per-(group, lang) counts, in
    * EXACT integers: Gini–Simpson index 1 − Σp² = (N² − Σc²)/N² and
    * the effective language count 1/Σp² = N²/Σc². Shannon entropy is
    * the textbook alternative but is NOT cross-engine-hashable — its
    * transcendental ln differs by 1 ulp between the JVM's Math.log
    * intrinsic and libm (measured this round on ln over small
    * integer counts), so the declared metric is the rational
    * diversity pair: numerator and denominator are exact int64
    * (2^53-safe for N up to ~67M per group; widen to DECIMAL(38,0)
    * past that, the q230 discipline) and each emitted double is ONE
    * IEEE division of exact operands — bit-stable on both engines.
    * `counts` must carry one row per (group, lang) with an exact
    * `n`. Package-visible so PropertiesSpec7 can prove the rationals
    * against BigInt on random counts. */
  private[graft] def diversityOver(counts: DataFrame): DataFrame = {
    val cnts = Langs.map(l =>
      sum(when(col("lang") === l, col("n")).otherwise(0L)).as(s"c_$l"))
    val g = counts.groupBy("source")
      .agg(sum(col("n")).cast("bigint").as("n_docs"), cnts: _*)
    val sumSq = Langs.map(l => col(s"c_$l") * col(s"c_$l")).reduce(_ + _)
    val n2 = col("n_docs") * col("n_docs")
    g.select(col("source"), col("n_docs"),
        col("c_de").cast("bigint").as("c_de"),
        col("c_en").cast("bigint").as("c_en"),
        col("c_es").cast("bigint").as("c_es"),
        col("c_fr").cast("bigint").as("c_fr"),
        col("c_zh").cast("bigint").as("c_zh"),
        (n2 - sumSq).cast("bigint").as("div_num"),
        n2.cast("bigint").as("div_den"),
        ((n2 - sumSq).cast("double") / n2.cast("double"))
          .as("gini_simpson"),
        (n2.cast("double") / sumSq.cast("double")).as("effective_langs"))
      .orderBy("source")
  }

  /** q284's oracle over the document relation `rel`; q285 checks
    * against it over its post-delta corpus. The pivot columns follow
    * [[Langs]]; a new language extends both. */
  private def diversitySql(rel: String): String =
    s"""WITH c AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_de,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
             CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS c_es,
             CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS c_fr,
             CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS c_zh
           FROM $rel GROUP BY source)
         SELECT source, n_docs, c_de, c_en, c_es, c_fr, c_zh,
         CAST(n_docs * n_docs
           - (c_de * c_de + c_en * c_en + c_es * c_es + c_fr * c_fr
              + c_zh * c_zh) AS BIGINT) AS div_num,
         CAST(n_docs * n_docs AS BIGINT) AS div_den,
         CAST(n_docs * n_docs
           - (c_de * c_de + c_en * c_en + c_es * c_es + c_fr * c_fr
              + c_zh * c_zh) AS DOUBLE)
           / CAST(n_docs * n_docs AS DOUBLE) AS gini_simpson,
         CAST(n_docs * n_docs AS DOUBLE)
           / CAST(c_de * c_de + c_en * c_en + c_es * c_es + c_fr * c_fr
                  + c_zh * c_zh AS DOUBLE) AS effective_langs
       FROM c ORDER BY source"""

  /** Per-group equi-depth histogram: k buckets of near-equal row
    * count (sizes differ by ≤1 — ntile's contract), each reporting
    * its row count and ACTUAL value boundaries. One window sort +
    * one aggregate over a single group-keyed exchange. Deterministic
    * in any engine when the order is UNIQUE (the q222 argument):
    * bucket boundaries are actual data values, all BIGINT. */
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

  /** q185's column-profile oracle over the lineitem relation `rel`;
    * q192 checks against it over its post-delta rows. */
  private def profileSql(rel: String): String =
    s"""WITH p AS (
           SELECT 'l_quantity' AS col_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
             min(l_quantity) AS min_v, max(l_quantity) AS max_v,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
           FROM $rel
           UNION ALL
           SELECT 'l_extendedprice',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_extendedprice) AS BIGINT),
             min(l_extendedprice), max(l_extendedprice),
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           FROM $rel
           UNION ALL
           SELECT 'l_discount',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_discount) AS BIGINT),
             min(l_discount), max(l_discount),
             CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
           FROM $rel
           UNION ALL
           SELECT 'l_tax',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_tax) AS BIGINT),
             min(l_tax), max(l_tax),
             CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE)
           FROM $rel
         )
         SELECT * FROM p ORDER BY col_name"""

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
    }),

    /** q86: ordered string aggregation (LISTAGG/string_agg surface):
      * comma-joined supplier roster per nation. Sort INSIDE the
      * aggregate (sort_array over the collected list) — collect_list
      * order is shuffle-dependent, the sorted join is not. */
    Query("q_agg_listagg",
      """SELECT n_name,
           string_agg(s_name, ',' ORDER BY s_name) AS names,
           CAST(count(*) AS BIGINT) AS n_sup
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""")((s, d) => {
      supplier(s, d)
        .join(nation(s, d),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(concat_ws(",", sort_array(collect_list(col("s_name"))))
            .as("names"),
          count(lit(1)).as("n_sup"))
        .orderBy("n_name")
    }),

    /** q87: fixed-width histogram of events.value (width-10 buckets,
      * open-ended): integer bucket arithmetic + exact decimal sums.
      * value is an exact 2-dp double [M], so floor(value/10) and the
      * dec2 sum are both tie-free cross-engine. */
    Query("q_agg_histogram",
      """SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY bucket""")((s, d) => {
      events(s, d)
        .select(floor(col("value") / 10).cast("bigint").as("bucket"),
          col("value"), col("user_id"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sumd2(col("value")).as("sum_value"))
        .orderBy("bucket")
    }),

    /** q96: per-group MODE with a DETERMINISTIC tiebreak — built-in
      * mode() leaves ties engine-defined, so both sides compute
      * (max count, then min value) explicitly: count per (user,
      * type), per-user top-1 window. */
    Query("q_agg_mode",
      """WITH c AS (
           SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY user_id, event_type
         )
         SELECT user_id, event_type AS mode_type, CAST(n AS BIGINT) AS n
         FROM (
           SELECT *, row_number() OVER (
             PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
           FROM c)
         WHERE rn = 1 ORDER BY user_id""")((s, d) => {
      val counts = events(s, d)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
        .orderBy("user_id")
    }),

    /** q127: population COVARIANCE per group with the D-rule numeric
      * contract — the statistical-aggregate family (corr/covar) that
      * FP-accumulating builtins can't put under a cross-engine oracle:
      * Σx, Σy, Σxy as EXACT decimals (map-side partial agg, one
      * shuffle), Σxy rescaled to 2 dp (half-up on both engines) so its
      * unscaled value stays inside the 2^53 decimal→double boundary
      * (Dec scaladoc), then ONE identical IEEE chain
      * sxy/n − (sx/n)·(sy/n) on both engines. */
    Query("q_agg_covar",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))
                          * CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) / CAST(count(*) AS DOUBLE)
           - (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              / CAST(count(*) AS DOUBLE))
             * (CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE)) AS covar_pop
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")((s, d) => {
      import graft.engine.Dec._
      val li = lineitem(s, d)
      val g = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).as("sx"),
          sum(dec2(col("l_extendedprice"))).as("sy"),
          round(sum(dec2(col("l_quantity")) * dec2(col("l_extendedprice"))), 2)
            .as("sxy"))
      g.select(col("l_returnflag"), col("n"),
          (dbl(col("sxy")) / dbl(col("n")) -
            (dbl(col("sx")) / dbl(col("n"))) * (dbl(col("sy")) / dbl(col("n"))))
            .as("covar_pop"))
        .orderBy("l_returnflag")
    }),

    /** q130: Pearson CORRELATION under the D-rule contract — the q127
      * machinery extended with exact-decimal second moments. Price is
      * shifted to y' = price·0.01 IN DECIMAL (exact; correlation is
      * scale-invariant) and every sum is rounded to 2 dp so all
      * unscaled values stay inside the 2^53 decimal→double boundary
      * even at sf1+; the correlation formula then runs as ONE pinned
      * IEEE tree — identical parenthesization on both engines, so the
      * doubles match bitwise. */
    Query("q_agg_corr",
      """WITH g AS (
           SELECT l_returnflag, count(*) AS n,
             round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS sx,
             round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(0.01 AS DECIMAL(8,4)) AS DECIMAL(8,4))), 2) AS sy,
             round(sum(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(0.01 AS DECIMAL(8,4)) AS DECIMAL(8,4))), 2) AS sxy,
             round(sum(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_quantity AS DECIMAL(18,2))), 2) AS sx2,
             round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(0.01 AS DECIMAL(8,4)) AS DECIMAL(8,4))
                       * CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(0.01 AS DECIMAL(8,4)) AS DECIMAL(8,4))), 2) AS sy2
           FROM lineitem GROUP BY l_returnflag
         )
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
           / (sqrt(CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
              * sqrt(CAST(sy2 AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))) AS corr
         FROM g ORDER BY l_returnflag""")((s, d) => {
      import graft.engine.Dec._
      val li = lineitem(s, d)
      val x = dec2(col("l_quantity"))
      // y' = price·0.01, exact at 4 dp, narrowed back to DECIMAL(8,4)
      // (max 1050.0000 fits) so y'·y' stays in the int64 decimal path
      val y = (dec2(col("l_extendedprice")) * lit(0.01).cast("decimal(8,4)"))
        .cast("decimal(8,4)")
      val g = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(x), 2).as("sx"),
          round(sum(y), 2).as("sy"),
          round(sum(x * y), 2).as("sxy"),
          round(sum(x * x), 2).as("sx2"),
          round(sum(y * y), 2).as("sy2"))
      val nd = dbl(col("n"))
      val mx = dbl(col("sx")) / nd
      val my = dbl(col("sy")) / nd
      val cov = dbl(col("sxy")) / nd - mx * my
      val vx = dbl(col("sx2")) / nd - mx * mx
      val vy = dbl(col("sy2")) / nd - my * my
      g.select(col("l_returnflag"), col("n"),
          (cov / (sqrt(vx) * sqrt(vy))).as("corr"))
        .orderBy("l_returnflag")
    }),

    /** q131: per-group standard deviation (population) via the q127
      * machinery — σ = √(sx2/n − (sx/n)²) over exact decimal sums,
      * one pinned IEEE tree, bitwise-equal doubles (the FP-
      * accumulating stddev builtins cannot cross-engine-match). */
    Query("q_agg_stddev",
      """WITH g AS (
           SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS sx,
             round(sum(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_quantity AS DECIMAL(18,2))), 2) AS sx2
           FROM lineitem GROUP BY l_returnflag, l_linestatus
         )
         SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
           sqrt(CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS stddev_pop
         FROM g ORDER BY l_returnflag, l_linestatus""")((s, d) => {
      import graft.engine.Dec._
      val li = lineitem(s, d)
      val x = dec2(col("l_quantity"))
      val g = li.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(x), 2).as("sx"),
          round(sum(x * x), 2).as("sx2"))
      val nd = dbl(col("n"))
      val mx = dbl(col("sx")) / nd
      g.select(col("l_returnflag"), col("l_linestatus"), col("n"),
          sqrt(dbl(col("sx2")) / nd - mx * mx).as("stddev_pop"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    /** q164: MULTI-DISTINCT AGGREGATION — three count(DISTINCT ...)
      * over DIFFERENT columns in one aggregate, plus a plain count.
      * This is the one aggregate shape Catalyst cannot serve with a
      * single hash-agg: RewriteDistinctAggregates expands each row
      * once per distinct group (an Expand node) and re-aggregates —
      * the declared row pins that the expand-based plan produces
      * exactly the naive per-column answer. At 100 TB the expand
      * multiplies the shuffle by the number of distinct clauses;
      * the scaladoc'd alternative when approximation is acceptable
      * is one pass of approx_count_distinct (q23). */
    Query("q_agg_distinct_multi",
      """SELECT l_linestatus,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_rows
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")((s, d) => {
      lineitem(s, d).groupBy("l_linestatus")
        .agg(count_distinct(col("l_partkey")).as("n_parts"),
          count_distinct(col("l_suppkey")).as("n_supps"),
          count_distinct(col("l_orderkey")).as("n_orders"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_linestatus")
    }),

    /** q168: ARG-MIN/ARG-MAX AGGREGATION — min_by/max_by: per order
      * priority, WHICH order carries the highest and lowest price.
      * The one thing that makes arg-extremes oracle-safe is a UNIQUE
      * ordering key: ties on raw price would leave both engines free
      * to return different orderkeys, so the key is the exact integer
      * cents·10^10 + orderkey (cents exact via DECIMAL(18,2)·100;
      * bounded ≪ 2^63) — total order, no ties, identical on both
      * engines. Single partial-aggregable pass (max_by is an ordinary
      * mergeable aggregate — no window, no shuffle beyond the
      * groupBy), which is exactly why it beats q29's row_number
      * window when only the extreme row is wanted at 100 TB. */
    Query("q_agg_min_max_by",
      """SELECT o_orderpriority,
           max_by(o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               * 10000000000 + o_orderkey) AS top_order,
           min_by(o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               * 10000000000 + o_orderkey) AS bottom_order,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS top_price,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS bottom_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")((s, d) => {
      val ordKey = (dec2(col("o_totalprice")) * 100).cast("long") *
        lit(10000000000L) + col("o_orderkey")
      orders(s, d).groupBy("o_orderpriority")
        .agg(max_by(col("o_orderkey"), ordKey).as("top_order"),
          min_by(col("o_orderkey"), ordKey).as("bottom_order"),
          dbl(max(dec2(col("o_totalprice")))).as("top_price"),
          dbl(min(dec2(col("o_totalprice")))).as("bottom_price"))
        .orderBy("o_orderpriority")
    }),

    /** q182: EXACT MEDIAN — Spark's exact `median` aggregate (the
      * sort-based exact percentile, not approx_percentile q81) per
      * order priority over EXACT integer cents. The oracle-safety
      * argument for an interpolated statistic: both engines compute
      * lo + (hi − lo)·0.5 on two exact BIGINTs, every step IEEE-exact
      * below 2^52, so even-count groups agree bitwise. At 100 TB
      * exact median is the documented EXPENSIVE choice (per-group
      * sort); the approximate default is q81's KLL/GK sketch —
      * declaring both keeps the trade-off visible. */
    Query("q_agg_median",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           median(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS median_cents,
           min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS min_cents,
           max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS max_cents
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")((s, d) => {
      orders(s, d)
        .withColumn("cents", (dec2(col("o_totalprice")) * 100).cast("long"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          median(col("cents")).as("median_cents"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .orderBy("o_orderpriority")
    }),

    /** q195: INCREMENTAL EXACT MEDIAN [P §3] — the q192 value-count
      * state put to work on an ORDER STATISTIC: exact median per
      * priority maintained under the fact delta. Min/max partials and
      * sketches cannot give an exact median under DELETION; the
      * per-(group, value) count state can — median = the k₁/k₂-th
      * values by cumulative count over the state, k = (n+1)÷2 and
      * (n+2)÷2, then ONE IEEE interpolation v₁ + (v₂−v₁)·0.5
      * (identical to both engines' exact-percentile arithmetic,
      * q182's argument). The cumulative window runs over the
      * NDV-sized STATE, not the corpus — the whole point of keeping
      * value counts. Delta convention: o_orderkey%10==0 insert,
      * ==1 delete. Oracle = DuckDB median over the post-delta table. */
    Query("q_incr_median",
      // q195's oracle: DuckDB's exact median over the POST-DELTA table —
      // the value-count-state maintenance and the k-th-by-cumulative-
      // count derivation must reproduce the engine median bitwise.
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
           median(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS median_cents
         FROM orders WHERE o_orderkey % 10 <> 1
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")((s, d) => {
      val o = orders(s, d)
        .withColumn("cents", (dec2(col("o_totalprice")) * 100).cast("long"))
      val delta = Delta.tenWay(o, "o_orderkey").map(
        _.groupBy(col("o_orderpriority"), col("cents"))
          .agg(count(lit(1)).as("n")))
      // A/B NOTE: memoizing the base partials (the q212
      // band_partials pattern) was tried and REVERTED — the three
      // union branches share ONE orders scan in a single stage here,
      // and splitting the base branch onto an InMemory relation broke
      // the shared scan into more stages/jobs (11 -> 18 warm) with no
      // wall win. The per-invocation base aggregation IS the cheap
      // shape at this plan size.
      val state = Maintain.signedMerge(Seq("o_orderpriority", "cents"),
        Seq("n"), Seq(delta.base, delta.inserts), Seq(delta.deletes))(
        col("n") > 0)
      val w = Window.partitionBy("o_orderpriority").orderBy("cents")
      val totals = state.groupBy("o_orderpriority")
        .agg(sum(col("n")).as("n_rows"))
      val cum = state.withColumn("cum", sum(col("n")).over(w))
        .join(totals, "o_orderpriority")
      def kth(k: Column, alias: String) =
        cum.filter(col("cum") >= k).groupBy("o_orderpriority")
          .agg(min(col("cents")).as(alias))
      kth(expr("(n_rows + 1) div 2"), "v1")
        .join(kth(expr("(n_rows + 2) div 2"), "v2"), "o_orderpriority")
        .join(totals, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_rows"),
          (col("v1").cast("double") +
            (col("v2") - col("v1")).cast("double") * 0.5)
            .as("median_cents"))
        .orderBy("o_orderpriority")
    }),

    /** q183: FILTER-CLAUSE AGGREGATES — conditional aggregation
      * without self-joins or CASE pyramids: count_if and
      * filtered sum/max in one partial-aggregated pass (Spark's
      * when(cond, x) inside an aggregate ≡ SQL FILTER (WHERE cond):
      * unmatched rows contribute NULL, which every aggregate skips).
      * One scan, one shuffle, all branches map-side combinable —
      * the 100 TB shape for "N metrics with N different predicates".
      * Empty-filter groups yield NULL identically in both engines. */
    Query("q_agg_filtered",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
             AS n_disc,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             FILTER (WHERE l_quantity > 25) AS DOUBLE) AS rev_hi_qty,
           max(l_extendedprice) FILTER (WHERE l_tax < 0.02)
             AS max_lowtax_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")((s, d) => {
      lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          count_if(col("l_discount") > 0.05).as("n_disc"),
          dbl(sum(when(col("l_quantity") > 25, dec2(col("l_extendedprice")))))
            .as("rev_hi_qty"),
          max(when(col("l_tax") < 0.02, col("l_extendedprice")))
            .as("max_lowtax_price"))
        .orderBy("l_returnflag")
    }),

    /** q190: HLL SKETCH BUILD / STORE / UNION [N] — the mergeable
      * approximate-distinct pattern every 100 TB lake uses for
      * pre-aggregation: per event day an hll_sketch_agg(user_id)
      * DataSketches sketch (a BINARY column — the storable,
      * re-mergeable artifact, unlike q23's scalar estimate), the
      * daily sketches round-tripped through parquet (the stored
      * rollup table), then hll_union_agg merges the stored sketches
      * into the ALL estimate without touching raw events again.
      * Deterministic for a fixed input set (HLL registers are
      * order-independent maxima; lgConfigK pinned at 12) but not
      * cross-engine — oracle=none; Round12bSpec pins per-day and
      * union estimates within 5% of the exact distincts and that the
      * union estimate is served from the stored sketches alone. */
    Query("q_agg_sketch_union")((s, d) => Memos.frame(s, d,
        "aggs/hllSketches") {
      val path = s"${Memos.scratchDir(s, d, "aggs")}/hll_daily"
      events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        .write.mode("overwrite").parquet(path)
      val stored = s.read.parquet(path)
      val perDay = stored.select(col("day").cast("string").as("scope"),
        expr("CAST(hll_sketch_estimate(sk) AS BIGINT)").as("est_users"))
      val all = stored.agg(
        expr("CAST(hll_sketch_estimate(hll_union_agg(sk, false)) AS BIGINT)")
          .as("est_users"))
        .select(lit("ALL").as("scope"), col("est_users"))
      perDay.unionByName(all).orderBy("scope").localCheckpoint()
    }),

    /** q209: COUNT-MIN SKETCH [N sketch family] — the third classic
      * mergeable sketch alongside Misra-Gries (q120) and HLL (q190):
      * frequency estimation in depth·width counters regardless of
      * key cardinality. Declared output: the top-10 TRUE part-key
      * frequencies with their CMS(4×1024) estimates side by side.
      * oracle=none (estimates depend on xxhash64's bucket mapping);
      * `Round12eSpec` proves the deterministic CMS invariants —
      * never underestimates, bounded by N, and EXACT mergeability
      * (sketch of a union ≡ counter-wise sum of the parts'
      * sketches, the property that makes it a 100 TB operator). */
    Query("q_agg_countmin")((s, d) => {
      val li = lineitem(s, d)
      val cms = cmsBuild(li, "l_partkey", depth = 4, width = 1024)
      val top = li.groupBy(col("l_partkey").as("k"))
        .agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("k")).limit(10)
      cmsEstimate(cms, top, "k", depth = 4, width = 1024)
        .join(top, "k")
        .select(col("k").as("l_partkey"), col("true_n"), col("est_n"))
        .orderBy(col("true_n").desc, col("l_partkey"))
    }),

    /** q214: EXACT WEIGHTED MEDIAN [T aggregate surface] — the
      * quantity-weighted lower median of lineitem price cents per
      * return flag: smallest value v with 2·cumweight(v) ≥ W, all in
      * exact integers (quantity values are integral doubles → BIGINT;
      * cents via the Dec decimal cast), so both engines select the
      * identical row — no percentile interpolation, no float
      * comparison. One (flag, cents) aggregate + a cumulative window
      * over the |distinct cents|-sized frame. */
    Query("q_agg_weighted_median",
      """WITH g AS (
           SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
           FROM lineitem GROUP BY 1, 2
         ), cum AS (
           SELECT l_returnflag, cents, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM g
         ), tot AS (
           SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS w_total
           FROM g GROUP BY 1
         )
         SELECT c.l_returnflag, t.w_total,
                CAST(min(c.cents) AS BIGINT) AS wmedian_cents
         FROM cum c JOIN tot t ON t.l_returnflag = c.l_returnflag
         WHERE c.cum * 2 >= t.w_total
         GROUP BY c.l_returnflag, t.w_total
         ORDER BY c.l_returnflag""")((s, d) => {
      // two-level selection: a naive (flag, cents) cumsum would
      // shuffle ~|rows| near-unique price groups and then scan them
      // in ONE window partition per flag (3-way parallelism on a
      // 600k-row sort at sf0.1). Instead: (1) bucket-level weight
      // sums (|flags|·~110 groups — map-side partial agg, tiny
      // shuffle) locate the bucket holding the median plus the
      // cumulative weight BEFORE it; (2) only rows of that bucket
      // (~1/110th of the data, filter pushed to the scan) replay the
      // exact per-cents cumsum. Identical result, no big shuffle.
      val B = 100000L
      def withCents(df: DataFrame) = df
        .withColumn("cents",
          (graft.engine.Dec.dec2(col("l_extendedprice")) * 100)
            .cast("long"))
        .withColumn("wt", col("l_quantity").cast("long"))
      val li = withCents(lineitem(s, d))
      val buckets = li.withColumn("cb", expr(s"cents div ${B}L"))
        .groupBy("l_returnflag", "cb").agg(sum(col("wt")).as("wb"))
      val cumB = buckets.withColumn("cumb",
          sum(col("wb")).over(Window.partitionBy("l_returnflag")
            .orderBy("cb")))
        .withColumn("w_total",
          sum(col("wb")).over(Window.partitionBy("l_returnflag")))
      val winner = cumB.filter(col("cumb") * 2 >= col("w_total"))
        .groupBy("l_returnflag")
        .agg(min(col("cb")).as("mb"), max(col("w_total")).as("w_total"))
        .join(cumB.select(col("l_returnflag"), col("cb"),
          (col("cumb") - col("wb")).as("w_before")),
          Seq("l_returnflag"))
        .filter(col("cb") === col("mb"))
        .select(col("l_returnflag"), col("mb"), col("w_before"),
          col("w_total"))
      li.join(broadcast(winner), Seq("l_returnflag"))
        .filter(expr(s"cents div ${B}L") === col("mb"))
        .groupBy(col("l_returnflag"), col("cents"), col("w_before"),
          col("w_total"))
        .agg(sum(col("wt")).as("w"))
        .withColumn("cum", col("w_before") +
          sum(col("w")).over(Window.partitionBy("l_returnflag")
            .orderBy("cents")))
        .filter(col("cum") * 2 >= col("w_total"))
        .groupBy("l_returnflag")
        .agg(max(col("w_total")).as("w_total"),
          min(col("cents")).as("wmedian_cents"))
        .orderBy("l_returnflag")
    }),

    /** q284: LANGUAGE-MIXTURE DIVERSITY per source [N data-mixture
      * diagnostic] — the Gini–Simpson diversity (and its inverse,
      * the effective number of languages) of each source's language
      * distribution, THE quantity a corpus-mixing run monitors when
      * rebalancing multilingual shards (a source collapsing toward
      * one language shows up as effective_langs→1 long before raw
      * counts do). One partial-aggregated shuffle on (source):
      * conditional per-lang sums combine map-side, so the exchange
      * carries ≤ |sources|·6 longs no matter the corpus size; the
      * index is an exact integer rational over the counts (see
      * [[diversityOver]] — and why Shannon-in-nats is NOT the
      * declared metric). Emitting the per-lang counts alongside the
      * index makes the row self-auditing: a sixth language in the
      * data breaks the n_docs reconciliation in the oracle hash.
      * Per-doc n=1 rows feed [[diversityOver]] directly so the pivot
      * IS the only aggregate — one exchange total (a pre-aggregation
      * to (source,lang) would add a second for nothing; the incr twin
      * keeps it because its signed merge needs the lang key). */
    Query("q_agg_diversity",
      // q284: exact integer rational — the only float ops are single
      // divisions of exact operands (Shannon ln is 1-ulp-unstable
      // cross-engine; see the diversityOver scaladoc).
      diversitySql("documents"))((s, d) =>
      diversityOver(documents(s, d)
        .select(col("source"), col("lang"), lit(1L).as("n")))),

    /** q285: SIGNED-INCREMENTAL MIXTURE DIVERSITY [P one-step
      * incremental] — q284 maintained under the corpus delta
      * (doc_id%10: 0=insert, 1=delete): the per-(source,lang) counts
      * are SIGNED-ADDITIVE sufficient statistics, so maintenance is
      * two delta-sized aggregates merged with the stored state by one
      * signed sum on a ≤|sources|·|langs| key space — the base corpus
      * is never re-scanned (here the state is recomputed inline to
      * stay self-contained, exactly like q125/q180), and the index
      * re-evaluates only from merged counts. Counts reaching zero
      * vanish (n > 0) as a from-scratch run computes. Oracle = q284's
      * batch diversity over the post-delta corpus: the hash proves
      * maintenance ≡ recompute. */
    Query("q_incr_diversity",
      // q285: batch recompute over the post-delta corpus (deletes are
      // doc_id%10==1; inserts %10==0 are already part of `documents`).
      diversitySql("(SELECT * FROM documents WHERE doc_id % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(documents(s, d), "doc_id")
        .map(_.groupBy("source", "lang").agg(count(lit(1)).as("n")))
      val merged = Maintain.signedMerge(Seq("source", "lang"), Seq("n"),
        Seq(delta.base, delta.inserts), Seq(delta.deletes))(col("n") > 0)
      diversityOver(merged)
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

    /** q90: typed grouped-map surface (the Dataset API's
      * mapGroups — the "apply an arbitrary per-group function"
      * operator): per-language median + median-absolute-deviation of
      * doc length. Linear-interpolated quantile (quantile_cont
      * semantics, matching DuckDB median/mad); doc lengths are small
      * ints so every interpolated value is an exact binary fraction —
      * bit-stable cross-engine. Each group materializes on one task
      * (fine for bounded group counts like per-language stats; for
      * unbounded groups use q69's distributed percentile instead). */
    Query("q_grouped_map_mad",
      """SELECT lang,
           CAST(median(n_chars) AS DOUBLE) AS med,
           CAST(mad(n_chars) AS DOUBLE) AS mad,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM documents GROUP BY lang ORDER BY lang""")((s, d) => {
      val sp = s
      import sp.implicits._
      def q50(a: Array[Double]): Double = {
        val h = (a.length - 1) * 0.5
        val lo = h.toInt
        if (lo + 1 < a.length) a(lo) + (h - lo) * (a(lo + 1) - a(lo))
        else a(lo)
      }
      documents(s, d).select(col("lang"), col("n_chars"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (lang, it) =>
          val xs = it.map(_._2.toDouble).toArray.sorted
          val med = q50(xs)
          val dev = xs.map(x => math.abs(x - med)).sorted
          (lang, med, q50(dev), xs.length.toLong)
        }
        .toDF("lang", "med", "mad", "n_docs")
        .orderBy("lang")
    }),

    /** q185: COLUMN PROFILING (ANALYZE-style stats collection) — the
      * lake-maintenance pass every optimizer depends on (row counts,
      * NDV, min/max bounds, sums for avg) for the four lineitem
      * measures, as a UNION of four single-column aggregates. The
      * one-scan multi-distinct alternative loses: Catalyst's
      * RewriteDistinctAggregates expands every row ×4 (the q164 plan)
      * and an interleaved A/B at sf0.1 measured it 3× slower (3.3-3.7
      * s vs 1.1 s warm) — whereas each union branch scans ONE pruned
      * parquet column (same total bytes as one 4-column scan) and
      * runs the cheap single-distinct two-stage aggregate, all four
      * branches scheduled concurrently in one job. Raw double min/max
      * compare bitwise; sums go through exact decimal. The
      * approximate production variant swaps count_distinct for HLL
      * (q23) and folds back to one scan. */
    Query("q_profile_stats", profileSql("lineitem"))((s, d) =>
      profileStats(lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_name")),

    /** q192: INCREMENTAL COLUMN PROFILING [P §3] — q185's ANALYZE
      * stats maintained under a fact-table delta from per-value count
      * state (the paper's preserved state, wordcount-shaped per
      * column): inserts increment a value's count, deletes decrement,
      * zero counts vanish — and every profile statistic is then a
      * fold over the NDV-sized state, never the corpus: n_rows = Σn,
      * NDV = |state| (EXACTLY maintained under deletion, which plain
      * min/max/HLL cannot do), min/max over surviving values, exact
      * decimal sum as Σ v·n. The honest cost is state size = NDV per
      * column; the approximate alternative with O(1) state is the
      * mergeable HLL rollup (q190) — insert-only. Delta convention:
      * l_orderkey%10==0 insert, ==1 delete (the doc-family rule on
      * the fact key). Oracle = the batch profile over the post-delta
      * table. The BASE per-value counts are the row's stored state
      * (exactly what a production run reads back from the partials
      * store), so they ride the session memo like aprioriBaseState —
      * the per-invocation work is then the two delta-sized
      * aggregations plus the NDV-sized merge and fold per column. */
    Query("q_incr_profile",
      profileSql("(SELECT * FROM lineitem WHERE l_orderkey % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(lineitem(s, d), "l_orderkey")
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map { c =>
          val baseCounts = Memos.frame(s, d, s"aggs/profileBase:$c")(
            valueCounts(delta.base, c).persist())
          profileOfState(valueCountStateFrom(baseCounts, delta.inserts,
            delta.deletes, c), c)
        }
        .reduce(_ unionByName _)
        .orderBy("col_name")
    })
  )
}
