package graft.ops

import graft.engine.Dec
import graft.engine.{Memos, Query}
import graft.engine.Tables._
import graft.incr.{Delta, Maintain}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.DataFrame

/** The ANALYTICS SURFACE module (SURVEY §2 rows 219-241, consolidated
  * r13 from the round-12 accretion files Round12c-Round12g as a pure
  * move — same keys, same plans, same hashes): the bitmap-index
  * family (exact distinct / set algebra / signed maintenance), RFM
  * segmentation, dynamic partition pruning, the exact-integer
  * anomaly/outlier tests (3-sigma, IQR), DAU/WAU engagement, last- and
  * linear-touch attribution, exact-decimal OLS regression, user
  * lifecycle, Zipf frequency spectrum, exact-rational Gini and
  * chi-square, graph clustering coefficient, rolling median - and the
  * signed-incremental maintenance of each. Section banners below mark
  * the original module boundaries; every kernel keeps its original
  * scaladoc. */
object Analytics {

  // ================================================================
  // Round12c (merged r13): see the section scaladoc below
  // ================================================================

  /** Round-12 batch 6 (SURVEY §2 rows 219-222): the bitmap-index
    * family — EXACT distinct counting over a dense bounded key domain
    * via 32-bit block bitmaps (the classic OLAP alternative to HLL
    * when the domain is enumerable: mergeable, O(domain/32) state,
    * and — unlike any cardinality sketch — supports DELETION and set
    * algebra), its block-wise intersection (segment-overlap analytics
    * without re-scanning facts), its signed-incremental maintenance
    * under the event delta, and RFM (recency/frequency/monetary)
    * customer segmentation.
    *
    * Determinism: bitmaps are BIGINT bit_or over `1 << pmod(user_id,
    * 32)` — bit 31 of a 32-entry block never reaches the BIGINT sign
    * bit, so both engines build the identical non-negative word and
    * bit_count agrees bit-for-bit, for ANY integer id domain: the
    * oracle SQL mirrors the floor/pmod split as `(user_id - ((user_id
    * % 32 + 32) % 32)) // 32` / `(user_id % 32 + 32) % 32` (ADVICE
    * r13 — DuckDB's truncating `%` diverges from pmod on negative
    * dividends, but the mirrored form is pmod on both engines, and
    * the block division is exact so truncation == floor). RFM scores
    * are ntile(5) over a
    * provably UNIQUE total order (metric, user_id), identical in any
    * SQL-standard engine. All sums are BIGINT; monetary enters as
    * floor(value·100) — one IEEE multiply of the parquet double then
    * an exact floor (Dec contract D2).
    *
    * The reference tree is absent (SURVEY.md §0);
    * semantics follow SURVEY §2 rows 219-222.
    */

  // ---------------------------------------------------------------
  // bitmap kernel
  // ---------------------------------------------------------------

  /** Per-(event_type, 32-user block) presence bitmap + row count —
    * the mergeable stored state of the whole family. ONE partial-
    * aggregated shuffle of ≤ |types|·⌈domain/32⌉ groups regardless
    * of fact cardinality; at 100 TB this is the point: facts reduce
    * map-side to domain-bounded words, and any later set operation
    * (distinct, AND, OR, delta-maintenance) runs on the words, never
    * on the facts again. Ids may be ANY integers: the block/bit
    * split uses pmod + floor-division, so negative ids map to
    * well-defined (negative-block, 0..31-bit) cells instead of the
    * silent garbage a truncating `div`/`%` pair would produce
    * (round-12 advice). */
  def bitmapBlocks(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"),
        expr("(user_id - pmod(user_id, 32)) div 32").as("blk"))
      .agg(expr("bit_or(shiftleft(1L, CAST(pmod(user_id, 32) AS INT)))")
        .as("bm"),
        count(lit(1)).as("n"))

  /** Per-user RFM raw partials — the fact-sized stage, ONE user-keyed
    * exchange. Also q224's stored state (user-local, so maintainable
    * by touched-user recompute). */
  def rfmPerUser(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(floor(col("value") * lit(100)).cast("long"))
          .as("monet_cents"))

  /** Per-user partials → scored (r,f,m) segment rollup. The global
    * ntile sorts run on the |users|-bounded dimension — never on
    * facts. The corpus max day derives from the partials (max of
    * per-user last days ≡ max over facts). */
  def rfmSegments(per: DataFrame): DataFrame = {
    val maxDay = per.agg(max(col("last_day")).as("corpus_max_day"))
    val scored = per
      .crossJoin(broadcast(maxDay))
      .withColumn("recency_days",
        datediff(col("corpus_max_day"), col("last_day")).cast("long"))
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("recency_days").desc, col("user_id"))))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("freq"), col("user_id"))))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("monet_cents"), col("user_id"))))
    scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        sum(col("monet_cents")).as("monet_cents_sum"),
        max(col("freq")).as("max_freq"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Bitmap words → per-type exact distinct + block/row counts. */
  private def bitmapCounts(blocks: DataFrame): DataFrame =
    blocks.groupBy("event_type")
      .agg(sum(expr("bit_count(bm)")).cast("long").as("n_users_exact"),
        count(lit(1)).as("n_blocks"),
        sum(col("n")).as("n_events"))
      .orderBy("event_type")

  /** q225's body (also q228's per-user derive): daily counts →
    * (n, S, Q) stats → the exact-integer 3σ branch, squared terms in
    * DECIMAL(38,0). User-local by construction, hence maintainable
    * by group-recompute. */
  def anomalySigma(ev: DataFrame): DataFrame = {
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x").cast(D38) * col("x").cast(D38)).as("q"))
    val dev = (col("n").cast(D38) * col("x").cast(D38)
      - col("s").cast(D38)).cast(D38)
    daily.join(stats, "user_id")
      .groupBy(col("user_id"), col("n").as("n_days"))
      .agg(sum(when((dev * dev).cast(D38) >
          ((col("n").cast(D38) * col("q").cast(D38)
            - col("s").cast(D38) * col("s").cast(D38)).cast(D38)
            * 9).cast(D38), 1L)
        .otherwise(0L)).as("n_anomalous"),
        max(col("x")).as("max_day_count"))
  }

  /** The q222 oracle body over a caller-chosen fact relation —
    * reused verbatim by q224 with the post-delta corpus. */
  private def rfmSql(rel: String): String =
    s"""WITH per AS (
          SELECT user_id,
                 date_diff('day', max(CAST(ts AS DATE)),
                   (SELECT max(CAST(ts AS DATE)) FROM $rel))
                   AS recency_days,
                 count(*) AS freq,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT))
                   AS BIGINT) AS monet_cents
          FROM $rel GROUP BY user_id
        ), scored AS (
          SELECT ntile(5) OVER (ORDER BY recency_days DESC, user_id)
                   AS r_score,
                 ntile(5) OVER (ORDER BY freq, user_id) AS f_score,
                 ntile(5) OVER (ORDER BY monet_cents, user_id)
                   AS m_score,
                 freq, monet_cents
          FROM per
        )
        SELECT r_score, f_score, m_score,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(monet_cents) AS BIGINT) AS monet_cents_sum,
               CAST(max(freq) AS BIGINT) AS max_freq
        FROM scored GROUP BY 1, 2, 3
        ORDER BY r_score, f_score, m_score"""

  /** The q219 oracle body over a caller-chosen fact relation —
    * reused verbatim by q221 with the post-delta corpus, so the
    * oracle itself states "maintenance ≡ recompute". */
  private def bitmapSql(rel: String): String =
    s"""WITH b AS (
          SELECT event_type,
                 (user_id - ((user_id % 32 + 32) % 32)) // 32 AS blk,
                 bit_or(1::BIGINT
                   << CAST((user_id % 32 + 32) % 32 AS INT)) AS bm,
                 count(*) AS n
          FROM $rel GROUP BY 1, 2
        )
        SELECT event_type,
               CAST(sum(bit_count(bm)) AS BIGINT) AS n_users_exact,
               CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(n) AS BIGINT) AS n_events
        FROM b GROUP BY event_type ORDER BY event_type"""

  // ================================================================
  // Round12d (merged r13): see the section scaladoc below
  // ================================================================

  /** Round-12 batch 8 (SURVEY §2 rows 226-229): rolling-window exact
    * distinct via the bitmap kernel (DAU/WAU — the sliding-window
    * companion to q219's static bitmap distinct), multi-touch
    * marketing attribution (first/last-touch channel credit), and the
    * signed-incremental maintenance of the 3-sigma anomaly test and
    * of the DAU/WAU partials.
    *
    * Determinism: all bitmap words are BIGINT bit_or over
    * `1 << pmod(user_id, 32)` with the floor/pmod block split (bit 31
    * never reaches the sign bit; negative ids map to well-defined
    * cells — the r12/r13 hardening, applied to dailyBitmaps and the
    * q229 touched-cell exprs too), attribution picks its touch by the
    * provably UNIQUE
    * order (ts, event_id), and every output is BIGINT counts or DATE —
    * no floats anywhere in the family.
    *
    * The reference tree is absent (SURVEY.md §0);
    * semantics follow SURVEY §2 rows 226-229.
    */

  // ---------------------------------------------------------------
  // DAU/WAU kernel (rolling exact distinct on bitmap partials)
  // ---------------------------------------------------------------

  /** Per-(day, 32-user block) presence bitmaps — the fact-sized
    * stage and q229's stored state. ONE partial-aggregated shuffle
    * to ≤ |days|·⌈domain/32⌉ words; every later rolling-window set
    * union runs on the words, never on facts. */
  def dailyBitmaps(ev: DataFrame): DataFrame =
    ev.groupBy(
        datediff(to_date(col("ts")), lit("1970-01-01")).as("dnum"),
        expr("(user_id - pmod(user_id, 32)) div 32").as("blk"))
      .agg(expr("bit_or(shiftleft(1L, CAST(pmod(user_id, 32) AS INT)))")
        .as("bm"))

  /** Bitmap partials → per-day exact DAU + trailing-7-day WAU.
    * The partials are densified onto the |days|×|blocks| grid
    * (dimension-sized) so a block absent on day d still contributes
    * its users from d-6..d-1 to d's window; the per-block rolling
    * bit_or runs under a RANGE frame on the day number (calendar
    * gaps handled by value arithmetic, not row offsets); bit_count
    * then sums exactly. Everything after the first exchange is
    * |days|·|blocks|-bounded — at 100 TB the rolling distinct never
    * re-reads facts. */
  def dauWau(daily: DataFrame): DataFrame = {
    val days = daily.select("dnum").distinct()
    val blks = daily.select("blk").distinct()
    val dense = days.crossJoin(blks)
      .join(daily, Seq("dnum", "blk"), "left")
      .withColumn("bm", coalesce(col("bm"), lit(0L)))
    val w = Window.partitionBy("blk").orderBy("dnum")
      .rangeBetween(-6, 0)
    dense
      .withColumn("bm7", expr("bit_or(bm)").over(w))
      .groupBy("dnum")
      .agg(sum(expr("bit_count(bm)")).cast("long").as("dau"),
        sum(expr("bit_count(bm7)")).cast("long").as("wau"))
      .select(expr("date_add(DATE '1970-01-01', CAST(dnum AS INT))")
        .as("day"), col("dau"), col("wau"))
      .orderBy("day")
  }

  // ---------------------------------------------------------------
  // attribution kernel
  // ---------------------------------------------------------------

  /** Per purchase: the first- and last-touch channel among the
    * user's view/click events in the trailing 7-day lookback,
    * picked by min_by/max_by over the UNIQUE (ts, event_id) order;
    * purchases with no touch in window credit 'none'. The join is
    * user-keyed (equi on user_id, band predicate as filter) — at
    * 100 TB the q208 (user, week)-grid band join is the drop-in
    * tightening if per-user histories outgrow a partition. */
  def attribution(ev: DataFrame): DataFrame =
    attributionRollup(attrPerPurchase(ev))

  /** Per conversion: (pid, user_id, last_ch, first_ch) — the
    * fact-sized stage, and q232's per-user-local stored state.
    * Conversion/touch types and the lookback are parameters so the
    * kernel serves any event taxonomy (facade: Graft.attribution). */
  def attrPerPurchase(ev: DataFrame,
                      convType: String = "purchase",
                      touchTypes: Seq[String] = Seq("view", "click"),
                      lookbackUs: Long = 7L * 24 * 3600 * 1000000)
      : DataFrame = {
    val p = ev.filter(col("event_type") === convType)
      .select(col("event_id").as("pid"), col("user_id"),
        unix_micros(col("ts")).as("ptsu"))
    val t = ev.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id").as("tuser"), col("event_type").as("ch"),
        unix_micros(col("ts")).as("ttsu"), col("event_id").as("tid"))
    val ord = struct(col("ttsu"), col("tid"))
    // The band predicate must live IN the outer-join condition: a
    // post-join filter would also delete the null-extended row of a
    // purchase whose user has touches but none in window, silently
    // dropping its 'none' credit.
    p.join(t,
        col("user_id") === col("tuser") &&
          col("ttsu") <= col("ptsu") &&
          col("ptsu") - col("ttsu") <= lookbackUs,
        "left")
      .groupBy("pid", "user_id")
      .agg(coalesce(max_by(col("ch"), ord), lit("none")).as("last_ch"),
        coalesce(min_by(col("ch"), ord), lit("none")).as("first_ch"))
  }

  /** Per-purchase credits → per-channel rollup (|channels|-bounded).
    * Unpivots (last, first) into keyed rows so ONE aggregate over a
    * single plan subtree serves both columns — two separate
    * groupBys merged by an outer join would recompute the whole
    * purchase-touch join per branch (visible as two copies of the
    * join in the physical plan). */
  def attributionRollup(attr: DataFrame): DataFrame =
    attr.select(explode(array(
        struct(lit("L").as("kind"), col("last_ch").as("channel")),
        struct(lit("F").as("kind"), col("first_ch").as("channel"))))
      .as("kc"))
      .groupBy(col("kc.channel").as("channel"))
      .agg(sum(when(col("kc.kind") === "L", 1L).otherwise(0L))
        .as("n_last_touch"),
        sum(when(col("kc.kind") === "F", 1L).otherwise(0L))
        .as("n_first_touch"))
      .orderBy("channel")

  /** q227's oracle over any events relation — rel-parameterized so
    * q232's post-delta oracle is built by construction, not by
    * string surgery. */
  def attributionSql(rel: String): String =
    s"""WITH p AS (
          SELECT event_id AS pid, user_id, epoch_us(ts) AS ptsu
          FROM $rel WHERE event_type = 'purchase'
        ), t AS (
          SELECT user_id, event_type AS ch, epoch_us(ts) AS ttsu,
                 event_id AS tid
          FROM $rel WHERE event_type IN ('view', 'click')
        ), j AS (
          SELECT p.pid, t.ch, t.ttsu, t.tid
          FROM p JOIN t ON t.user_id = p.user_id
           AND t.ttsu <= p.ptsu
           AND p.ptsu - t.ttsu <= 604800000000
        ), attr AS (
          SELECT p.pid,
                 coalesce(max(CASE WHEN rl = 1 THEN ch END), 'none')
                   AS last_ch,
                 coalesce(max(CASE WHEN rf = 1 THEN ch END), 'none')
                   AS first_ch
          FROM p LEFT JOIN (
            SELECT pid, ch,
                   row_number() OVER (PARTITION BY pid
                     ORDER BY ttsu DESC, tid DESC) AS rl,
                   row_number() OVER (PARTITION BY pid
                     ORDER BY ttsu ASC, tid ASC) AS rf
            FROM j) r ON r.pid = p.pid
          GROUP BY p.pid
        ), lastc AS (
          SELECT last_ch AS channel, count(*) AS n_last
          FROM attr GROUP BY 1
        ), firstc AS (
          SELECT first_ch AS channel, count(*) AS n_first
          FROM attr GROUP BY 1
        )
        SELECT coalesce(l.channel, f.channel) AS channel,
               CAST(coalesce(l.n_last, 0) AS BIGINT) AS n_last_touch,
               CAST(coalesce(f.n_first, 0) AS BIGINT) AS n_first_touch
        FROM lastc l FULL JOIN firstc f ON l.channel = f.channel
        ORDER BY channel"""

  // ================================================================
  // Round12e (merged r13): see the section scaladoc below
  // ================================================================

  /** Round-12 batch 9 (SURVEY §2 rows 230-233): exact-rational OLS
    * regression aggregates (the SQL-standard REGR_* family in the
    * engine's integer-exact discipline), its PURE signed-sum
    * incremental maintenance (the partials are invertible — the only
    * incremental family that needs NO recompute at all), the
    * signed-incremental form of multi-touch attribution, and per-day
    * user lifecycle accounting (new / returning / churned).
    *
    * Determinism: regression moments are exact DECIMAL(38,0) sums of
    * cent-scaled integers; the slope/intercept are emitted as exact
    * rationals (numerator, denominator) rather than doubles — BIGINT →
    * double conversion above 2^53 is not guaranteed identically
    * rounded across engines, so the rational IS the portable answer
    * (the caller divides at display time). Lifecycle and attribution
    * outputs are BIGINT counts over provably unique orders.
    *
    * The reference tree is absent (SURVEY.md §0);
    * semantics follow SURVEY §2 rows 230-233.
    */

  // ---------------------------------------------------------------
  // OLS kernel (exact decimal moments)
  // ---------------------------------------------------------------

  private val D38o = DecimalType(38, 0)

  /** Per-group OLS moments (n, Σx, Σy, Σxy, Σx²) over integer
    * (x, y) columns — ONE partial-aggregated exchange to |groups|
    * rows; the classic mergeable (and INVERTIBLE) regression state.
    * Callers supply cent-scaled integers (facade: Graft.linreg);
    * per-row products must stay BIGINT-safe; sums are exact
    * DECIMAL(38,0). */
  def linregMoments(df: DataFrame, groupCol: String,
                    xCol: String, yCol: String): DataFrame = {
    // Cast operands to long BEFORE multiplying: an IntegerType input
    // would wrap its product at 2^31 even when the per-row product
    // honours the documented BIGINT-safe contract.
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    df.groupBy(groupCol)
      .agg(count(lit(1)).cast(D38o).as("n"),
        sum(x.cast(D38o)).as("sx"),
        sum(y.cast(D38o)).as("sy"),
        sum((x * y).cast(D38o)).as("sxy"),
        sum((x * x).cast(D38o)).as("sxx"))
  }

  /** The q230/q231 instantiation: cent-scaled lineitem
    * (quantity → extendedprice) per return flag. */
  def linregPartials(li: DataFrame): DataFrame =
    linregMoments(
      li.select(col("l_returnflag"),
        (Dec.dec2(col("l_quantity")) * 100).cast("long").as("x"),
        (Dec.dec2(col("l_extendedprice")) * 100).cast("long").as("y")),
      "l_returnflag", "x", "y")

  /** Moments → exact-rational slope and intercept:
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²),
    * intercept = (Σy·den − num·Σx) / (n·den). All products stay
    * inside DECIMAL(38,0) at bench scales (documented overflow bound
    * in SURVEY row 230). The rationals emit as DIGIT STRINGS — the
    * only lossless representation both engines and the comparing
    * harness round-trip above 2^63. */
  def linregFinalize(p: DataFrame,
                     groupCol: String = "l_returnflag"): DataFrame =
    p.withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy")).cast(D38o))
      .withColumn("den", (col("n") * col("sxx") - col("sx") * col("sx")).cast(D38o))
      .select(col(groupCol), col("n").cast("long").as("n_rows"),
        col("num").cast("string").as("slope_num"),
        col("den").cast("string").as("slope_den"),
        (col("sy") * col("den") - col("num") * col("sx")).cast(D38o)
          .cast("string").as("icept_num"),
        (col("n") * col("den")).cast(D38o).cast("string").as("icept_den"))
      .orderBy(groupCol)

  // ---------------------------------------------------------------
  // lifecycle kernel
  // ---------------------------------------------------------------

  /** Per day: users newly seen, returning, and churning (last active
    * day). Facts reduce once to distinct (user, day); first/last
    * derive on the |users|-bounded dimension; the join back is
    * user-keyed. */
  def lifecycle(ev: DataFrame): DataFrame =
    lifecycleFromActives(activesOf(ev))

  /** Distinct (user, day) — the fact-sized reduction, and q236's
    * user-local stored state. */
  def activesOf(ev: DataFrame): DataFrame =
    ev.select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("dnum"))
      .distinct()

  /** Actives → per-day new/returning/churned rollup (all stages
    * |users|- or |days|-bounded). */
  def lifecycleFromActives(actives: DataFrame): DataFrame = {
    val fl = actives.groupBy("user_id")
      .agg(min("dnum").as("first_d"), max("dnum").as("last_d"))
    actives.join(fl, "user_id")
      .groupBy("dnum")
      .agg(
        sum(when(col("dnum") === col("first_d"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("dnum") > col("first_d"), 1L).otherwise(0L))
          .as("n_returning"),
        sum(when(col("dnum") === col("last_d"), 1L).otherwise(0L))
          .as("n_churned"))
      .select(expr("date_add(DATE '1970-01-01', CAST(dnum AS INT))")
        .as("day"), col("n_new"), col("n_returning"), col("n_churned"))
      .orderBy("day")
  }

  /** q233's oracle over any events relation — rel-parameterized so
    * q236's post-delta oracle is built by construction. */
  def lifecycleSql(rel: String): String =
    s"""WITH actives AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM $rel
        ), fl AS (
          SELECT user_id, min(day) AS first_d, max(day) AS last_d
          FROM actives GROUP BY 1
        )
        SELECT a.day,
               CAST(sum(CASE WHEN a.day = f.first_d THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN a.day > f.first_d THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_returning,
               CAST(sum(CASE WHEN a.day = f.last_d THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_churned
        FROM actives a JOIN fl f ON f.user_id = a.user_id
        GROUP BY a.day ORDER BY a.day"""

  private def linregSql(rel: String): String =
    s"""WITH t AS (
          SELECT l_returnflag,
                 CAST(CAST(ROUND(l_quantity, 2) AS DECIMAL(18,2)) * 100
                   AS BIGINT) AS x,
                 CAST(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(18,2)) * 100
                   AS BIGINT) AS y
          FROM $rel
        ), p AS (
          SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM t GROUP BY 1
        ), f AS (
          SELECT l_returnflag, n, sx, sy,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS den
          FROM p
        )
        SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
               CAST(num AS VARCHAR) AS slope_num,
               CAST(den AS VARCHAR) AS slope_den,
               CAST(sy * den - num * sx AS VARCHAR) AS icept_num,
               CAST(n * den AS VARCHAR) AS icept_den
        FROM f ORDER BY l_returnflag"""

  // ================================================================
  // Round12f (merged r13): see the section scaladoc below
  // ================================================================

  /** Round-12 batch 10 (SURVEY §2 rows 234-236): Tukey-fence (IQR)
    * outlier detection — completing the outlier trio (q217 mean-rule,
    * q225 sigma-rule) — the token frequency spectrum (the Good-Turing
    * vocabulary curve), and signed-incremental lifecycle accounting.
    *
    * Determinism of the IQR row: p25/p75 are EXACT interpolated order
    * statistics over BIGINT daily counts — both engines compute
    * x[lo] + (x[hi] − x[lo])·frac at index f·(n−1) where frac ∈
    * {0, .25, .5, .75}: every step is a power-of-two division of an
    * integer below 2^53, hence IEEE-exact and bitwise identical (the
    * q182 exact-median argument extended to quarters); the fence
    * p75 + 1.5·IQR = (2k + 3m)/8 is likewise exact, so both engines
    * take the identical branch on every day.
    *
    * The reference tree is absent (SURVEY.md §0);
    * semantics follow SURVEY §2 rows 234-236.
    */

  /** Per user over daily counts: exact p25/p75 and the count of
    * days beyond the upper Tukey fence. Two aggregates over one
    * user-keyed exchange; |users|·|days|-bounded intermediate. */
  def outlierIqr(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val q = daily.groupBy("user_id")
      .agg(count(lit(1)).as("n_days"),
        percentile(col("cnt"), lit(0.25)).as("p25"),
        percentile(col("cnt"), lit(0.75)).as("p75"))
    daily.join(q, "user_id")
      .groupBy(col("user_id"), col("n_days"), col("p25"), col("p75"))
      .agg(sum(when(col("cnt") >
          col("p75") + (col("p75") - col("p25")) * 1.5, 1L)
        .otherwise(0L)).as("n_outlier_days"))
      .select(col("user_id"), col("n_days"), col("p25"), col("p75"),
        col("n_outlier_days"))
      .orderBy("user_id")
  }

  /** Corpus trigram frequency spectrum: for each corpus frequency k
    * (11+ is one bucket), the number of distinct 3-gram shingles
    * occurring k times and their total occurrences — the
    * vocabulary-growth / Good-Turing smoothing input (hapax count
    * first). Trigrams, not unigrams: the fixture vocabulary is a
    * closed word set, so the unigram spectrum is a single saturated
    * bucket, while the trigram space exhibits the Zipf tail the
    * statistic exists to measure. Gram-keyed partial-agg shuffle,
    * then an O(12)-group rollup. */
  def freqSpectrum(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .select(explode(expr(
        // Guard size<3: sequence(1, size-2) counts DOWN for short
        // docs; empty array → explode drops the row (Dedup.shinglesOf
        // precedent).
        """CASE WHEN size(toks) >= 3 THEN
             transform(sequence(1, size(toks) - 2),
               i -> concat(element_at(toks, i), ' ',
                           element_at(toks, i + 1), ' ',
                           element_at(toks, i + 2)))
           ELSE array() END""")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("f"))
      .select(when(col("f") >= 11, 11L).otherwise(col("f"))
        .as("freq_bucket"), col("f"))
      .groupBy("freq_bucket")
      .agg(count(lit(1)).as("n_grams"),
        sum(col("f")).as("n_occurrences"))
      .orderBy("freq_bucket")

  // ================================================================
  // Round12g (merged r13): see the section scaladoc below
  // ================================================================

  /** Round-12 batch 11 (SURVEY §2 rows 237-241): exact-rational Gini
    * concentration, per-node clustering coefficients on the
    * co-purchase graph, rolling exact medians over trailing windows,
    * and the exact-integer chi-square A/B test with its pure
    * signed-sum incremental maintenance.
    *
    * Determinism: Gini follows the q230 exact-rational discipline
    * (rank-weighted DECIMAL(38,0) sums; the rational emits as digit
    * strings) — its value is permutation-invariant among tied amounts
    * because equal x contribute the same Σi·x under any tie order, and
    * the (cents, orderkey) sort is unique anyway; clustering
    * coefficients emit the (2·tri, deg·(deg−1)) rational in BIGINT;
    * the rolling median interpolates at 0.5 over BIGINT counts — a
    * power-of-two fraction, bitwise identical across engines (q182's
    * argument).
    *
    * The reference tree is absent (SURVEY.md §0);
    * semantics follow SURVEY §2 rows 237-241.
    */

  private val D38x = DecimalType(38, 0)

  // ---------------------------------------------------------------
  // chi-square A/B kernel
  // ---------------------------------------------------------------

  /** Per-type arm counts (a = this type in arm 0, c = in arm 1) —
    * the fact-sized stage; ONE partial-aggregated exchange to
    * |types| rows. The counts are INVERTIBLE (plain sums), which is
    * what makes q241's signed-sum maintenance possible. */
  def chisqCounts(ev: DataFrame): DataFrame =
    ev.groupBy("event_type")
      .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L))
        .as("a"),
        sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L))
        .as("c"))

  /** Counts → 2×2 chi-square per type, decided ENTIRELY in exact
    * integers: χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) with
    * b/d the arm totals minus a/c; significance at α=0.05 is the
    * cross-multiplied 1000·num > 3841·den (χ²₀.₀₅,₁ = 3.841). The
    * rational emits as digit strings (q230 discipline). Overflow
    * bound: num ≈ N·(N·N)² needs N ≲ 10⁷ per arm-type cell for
    * DECIMAL(38,0)/HUGEINT — beyond that, test a uniform sample
    * (the statistic saturates long before). */
  def chisqFinalize(p: DataFrame): DataFrame = {
    val tot = p.agg(sum("a").cast(D38x).as("ta"),
      sum("c").cast(D38x).as("tc"))
    p.crossJoin(broadcast(tot))
      .withColumn("b", (col("ta") - col("a")).cast(D38x))
      .withColumn("dd", (col("tc") - col("c")).cast(D38x))
      .withColumn("ad", (col("a").cast(D38x) * col("dd")).cast(D38x))
      .withColumn("bc", (col("b") * col("c").cast(D38x)).cast(D38x))
      .withColumn("num", ((col("ta") + col("tc")).cast(D38x) *
        ((col("ad") - col("bc")) * (col("ad") - col("bc"))).cast(D38x))
        .cast(D38x))
      .withColumn("den", ((col("a") + col("b")).cast(D38x) *
        (col("c") + col("dd")).cast(D38x) *
        (col("a") + col("c")).cast(D38x) *
        (col("b") + col("dd")).cast(D38x)).cast(D38x))
      .select(col("event_type"),
        col("a").cast("long").as("arm0_type"),
        col("b").cast("long").as("arm0_rest"),
        col("c").cast("long").as("arm1_type"),
        col("dd").cast("long").as("arm1_rest"),
        col("num").cast("string").as("chisq_num"),
        col("den").cast("string").as("chisq_den"),
        (col("num") * 1000 > col("den") * 3841).as("significant"))
      .orderBy("event_type")
  }

  /** Per-group exact-rational Gini over cent amounts:
    * G = (2·Σi·x − (n+1)·Σx) / (n·Σx) with i the 1-based rank under
    * the unique (cents, key) order. One window rank + one aggregate
    * over a single group-keyed exchange. */
  def gini(df: DataFrame, groupCol: String, centsCol: String,
           keyCol: String): DataFrame = {
    // Project caller columns onto collision-proof internal names
    // first: a caller column literally named "i"/"n"/"sx" must not
    // be clobbered by the rank/aggregate intermediates.
    val t = df.select(col(groupCol).as("_g"), col(centsCol).as("_x"),
      col(keyCol).as("_k"))
    val w = Window.partitionBy("_g").orderBy(col("_x"), col("_k"))
    t.withColumn("_i", row_number().over(w))
      .groupBy("_g")
      .agg(count(lit(1)).as("_n"),
        sum(col("_x").cast(D38x)).as("_sx"),
        sum(col("_i").cast(D38x) * col("_x").cast(D38x)).as("_six"))
      .select(col("_g").as(groupCol), col("_n").as("n_rows"),
        (lit(2).cast(D38x) * col("_six")
          - (col("_n") + 1).cast(D38x) * col("_sx")).cast(D38x)
          .cast("string").as("gini_num"),
        (col("_n").cast(D38x) * col("_sx")).cast(D38x)
          .cast("string").as("gini_den"))
      .orderBy(groupCol)
  }

  /** q240's oracle over any events relation — rel-parameterized so
    * q241's post-delta oracle is built by construction. */
  def chisqSql(rel: String): String =
    s"""WITH p AS (
          SELECT event_type,
                 sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS a,
                 sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS c
          FROM $rel GROUP BY 1
        ), t AS (
          SELECT sum(a) AS ta, sum(c) AS tc FROM p
        ), f AS (
          SELECT p.event_type, p.a, t.ta - p.a AS b, p.c,
                 t.tc - p.c AS dd, t.ta + t.tc AS n
          FROM p, t
        ), g AS (
          SELECT event_type, a, b, c, dd,
                 n * (a * dd - b * c) * (a * dd - b * c) AS num,
                 (a + b) * (c + dd) * (a + c) * (b + dd) AS den
          FROM f
        )
        SELECT event_type,
               CAST(a AS BIGINT) AS arm0_type,
               CAST(b AS BIGINT) AS arm0_rest,
               CAST(c AS BIGINT) AS arm1_type,
               CAST(dd AS BIGINT) AS arm1_rest,
               CAST(num AS VARCHAR) AS chisq_num,
               CAST(den AS VARCHAR) AS chisq_den,
               num * 1000 > den * 3841 AS significant
        FROM g ORDER BY event_type"""

  /** The q226 oracle body over a caller-chosen fact relation —
    * reused verbatim by q229 with the post-delta corpus. */
  private def dauWauSql(rel: String): String =
    s"""WITH days AS (
           SELECT DISTINCT CAST(ts AS DATE) AS day FROM $rel
         )
         SELECT d.day,
                CAST((SELECT count(DISTINCT e.user_id) FROM $rel e
                      WHERE CAST(e.ts AS DATE) = d.day) AS BIGINT)
                  AS dau,
                CAST((SELECT count(DISTINCT e.user_id) FROM $rel e
                      WHERE CAST(e.ts AS DATE)
                        BETWEEN d.day - 6 AND d.day) AS BIGINT)
                  AS wau
         FROM days d ORDER BY d.day"""

  /** The q225 oracle body over a caller-chosen fact relation —
    * reused verbatim by q228 with the post-delta corpus. */
  private def anomalySigmaSql(rel: String): String =
    s"""WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS x
           FROM $rel GROUP BY 1, 2
         ), stats AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS s,
                  CAST(sum(x * x) AS BIGINT) AS q
           FROM daily GROUP BY user_id
         )
         SELECT d.user_id, t.n AS n_days,
                CAST(sum(CASE WHEN (t.n * d.x - t.s) * (t.n * d.x - t.s)
                       > 9 * (t.n * t.q - t.s * t.s)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
                CAST(max(d.x) AS BIGINT) AS max_day_count
         FROM daily d JOIN stats t ON t.user_id = d.user_id
         GROUP BY d.user_id, t.n
         ORDER BY d.user_id"""

  val queries: Seq[Query] = Seq(
    // Round12c rows (see the section scaladoc above)
    /** q219: EXACT DISTINCT VIA BLOCK BITMAPS [N scale path] — per
      * event type, the exact distinct-user count computed from 32-bit
      * block bitmaps instead of a count(DISTINCT) shuffle of the raw
      * keys. count(DISTINCT user) shuffles |facts| (type, user) rows;
      * the bitmap form partial-aggregates map-side to ≤
      * |types|·⌈domain/32⌉ BIGINT words — at 100 TB the shuffle is
      * domain-bounded, not fact-bounded, and the words are reusable
      * state for q220/q221. Applicable exactly when the key domain is
      * dense and bounded (user ids here); for open domains the engine
      * offers HLL (q23) at ε accuracy or multi-distinct (q164). */
    Query("q_agg_bitmap_distinct", bitmapSql("events"))((s, d) =>
      bitmapCounts(bitmapBlocks(events(s, d)))),

    /** q220: BITMAP SET ALGEBRA — distinct users present in BOTH
      * types of every unordered event-type pair, via block-aligned
      * AND of the q219 words: the segment-overlap / funnel-audience
      * question answered WITHOUT touching facts again. The join is
      * |types|·⌈domain/32⌉ × same, equi on the block id — block-
      * partitioned and AQE-eligible at scale. Inner join is exact
      * for intersection: a block absent on either side contributes
      * zero shared users by construction. */
    Query("q_agg_bitmap_intersect",
      """WITH b AS (
           SELECT event_type,
                  (user_id - ((user_id % 32 + 32) % 32)) // 32 AS blk,
                  bit_or(1::BIGINT
                    << CAST((user_id % 32 + 32) % 32 AS INT)) AS bm
           FROM events GROUP BY 1, 2
         )
         SELECT a.event_type AS t1, b.event_type AS t2,
                CAST(sum(bit_count(a.bm & b.bm)) AS BIGINT)
                  AS n_users_both,
                CAST(count(*) AS BIGINT) AS n_blocks_shared
         FROM b a JOIN b b
           ON a.blk = b.blk AND a.event_type < b.event_type
         GROUP BY 1, 2 ORDER BY t1, t2""")((s, d) => {
      val b = bitmapBlocks(events(s, d))
      val a1 = b.select(col("event_type").as("t1"), col("blk"),
        col("bm").as("bma"))
      val a2 = b.select(col("event_type").as("t2"), col("blk"),
        col("bm").as("bmb"))
      a1.join(a2, Seq("blk")).filter(col("t1") < col("t2"))
        .select(col("t1"), col("t2"),
          expr("bit_count(bma & bmb)").as("both_bits"))
        .groupBy("t1", "t2")
        .agg(sum(col("both_bits")).cast("long").as("n_users_both"),
          count(lit(1)).as("n_blocks_shared"))
        .orderBy("t1", "t2")
    }),

    /** q221: SIGNED-INCREMENTAL BITMAP DISTINCT [P one-step
      * incremental] — q219 maintained under the event delta
      * (event_id%10: 0=insert, 1=delete) without a base rescan.
      * Deletion is the case every cardinality SKETCH fundamentally
      * cannot serve (HLL/CMS state is not invertible); the bitmap
      * family can, by the touched-block rule: presence is not a
      * group under XOR (multiplicity), so a delta row invalidates
      * exactly its own (type, block) word, which recomputes from
      * post-delta facts of that block while every untouched word —
      * the memoized stored state, the persisted partials relation in
      * a production run — passes through unread. Work is
      * delta-proportional: |touched blocks| recomputes over a
      * block-semi-joined fact subset. Oracle = batch q219 over the
      * post-delta corpus ⇒ the hash proves maintenance ≡ recompute. */
    Query("q_incr_bitmap_distinct", bitmapSql(
      "(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"))
      val delta = Delta.tenWay(ev, "event_id").map(
        _.withColumn("blk", expr("(user_id - pmod(user_id, 32)) div 32")))
      bitmapCounts(Maintain.groupRecomputeMemo(s, d, "bitmap_partials",
        delta.base, delta.post, Seq("event_type", "blk"),
        delta.touchedKeys("event_type", "blk"))(bitmapBlocks))
    }),

    /** q222: RFM SEGMENTATION [T analytics surface] — the classic
      * customer-value grid: per user, Recency (days from last event
      * to the corpus max day), Frequency (event count), Monetary
      * (exact value cents); each scored 1-5 by ntile over the
      * UNIQUE order (metric, user_id) — 5 = most recent / most
      * frequent / highest spend — then segment-level rollup. The
      * per-user relation is |users|-bounded, so the three unparti-
      * tioned ntile sorts are sorts of an already-aggregated small
      * relation, not of facts (at 100 TB: facts reduce in one
      * user-keyed exchange; scoring runs on the user dimension). */
    Query("q_events_rfm", rfmSql("events"))((s, d) =>
      rfmSegments(rfmPerUser(events(s, d)))),

    /** q224: SIGNED-INCREMENTAL RFM [P one-step incremental] — q222
      * maintained under the event delta by LAYERING: the fact-sized
      * per-user partials (last_day, freq, monet) are user-local, so
      * touched users recompute from post-delta facts while untouched
      * users' memoized partials pass through (max/count/sum over ONE
      * user's rows — group-recompute, since max is not invertible
      * under deletes); the SCORING stage (global ntiles) then
      * recomputes over the |users|-bounded dimension, which is the
      * honest design — ranks are global, so no per-group rule can
      * maintain them, but the relation they rank is dimension-sized
      * by construction. Work = |delta users|' facts + a small sort.
      * Oracle = batch q222 over post-delta ⇒ hash proves
      * maintenance ≡ recompute. */
    Query("q_incr_rfm", rfmSql(
      "(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        "event_id")
      rfmSegments(Maintain.groupRecomputeMemo(s, d, "rfm_partials",
        delta.base, delta.post, Seq("user_id"),
        delta.touchedKeys("user_id"))(rfmPerUser))
    }),

    /** q223: DYNAMIC PARTITION PRUNING [N scale path] — the star-
      * schema join against a PARTITIONED fact table where the
      * partition filter is only known at RUNTIME (it comes from the
      * dim side's predicate, not from a literal): customers written
      * partitioned by c_nationkey, joined to nations of one region.
      * Catalyst injects a dynamicpruning subquery on the fact scan —
      * the broadcast dim's keys become partition filters, so at
      * 100 TB the fact scan reads ~1/|regions| of its partitions
      * instead of all of them; a literal IN-filter (q158's static
      * pruning) cannot express this because the key set depends on
      * data. Result is the plain join (oracle-hashable); the plan
      * shape — a DynamicPruningExpression partition filter on the
      * scan — is pinned by `Round12hSpec`. appId-isolated scratch,
      * OVERWRITE; the write is session-memoized (the fixture is the
      * sole input, so one write serves every call — bench reps then
      * measure the pruned read, not the rewrite). */
    Query("q_scan_dpp",
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
                CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS acctbal_cents_sum
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE n_regionkey = 0
         GROUP BY n_name ORDER BY n_name""")((s, d) => {
      val scratch = s"${Memos.scratchDir(s, d, "analytics")}/dpp"
      Memos.value(s, d, "analytics_bitmap/dpp_write") {
        customer(s, d)
          .write.mode("overwrite").partitionBy("c_nationkey")
          .parquet(scratch)
        true
      }
      val fact = s.read.parquet(scratch)
      val dim = nation(s, d).filter(col("n_regionkey") === 0)
      fact.join(dim, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_customers"),
          sum((graft.engine.Dec.dec2(col("c_acctbal")) * 100)
            .cast("long")).as("acctbal_cents_sum"))
        .orderBy("n_name")
    }),

    /** q225: EXACT 3-SIGMA ANOMALY TEST [N data-quality] — the
      * variance-aware companion to q217's mean-rule: a user's day is
      * anomalous when its count x deviates more than 3 population-σ
      * from the user's daily mean — decided ENTIRELY in exact
      * integer arithmetic by clearing denominators: with n days,
      * S = Σx, Q = Σx²,
      * (x−μ)² > 9σ²  ⇔  (n·x − S)² > 9·(n·Q − S²). No float mean, no
      * float stddev, no epsilon: both engines take the identical
      * branch on every row. The squared terms run in DECIMAL(38,0)
      * (S² alone would clear BIGINT for a ~4·10⁹-event user — the
      * q230 overflow discipline), matching DuckDB's HUGEINT sums.
      * Two aggregates over one user-keyed exchange;
      * |users|·|days|-bounded intermediate. */
    Query("q_events_anomaly_sigma", anomalySigmaSql("events"))((s, d) =>
      anomalySigma(events(s, d)).orderBy("user_id")),

    // Round12d rows (see the section scaladoc above)
    /** q226: ROLLING EXACT DISTINCT — DAU/WAU [N analytics surface]
      * — per day: exact distinct active users that day (DAU) and in
      * the trailing 7 days (WAU), via per-(day, block) bitmap words
      * rolled up under a RANGE-framed bit_or. The classic sliding
      * distinct that COUNT(DISTINCT) OVER cannot express and no
      * sketch answers exactly; here it is one fact exchange + a
      * dimension-sized window. */
    Query("q_events_dau_wau", dauWauSql("events"))((s, d) =>
      dauWau(dailyBitmaps(events(s, d)))),

    /** q227: MULTI-TOUCH ATTRIBUTION [T analytics surface] — per
      * channel (view/click/'none'): how many purchases credit it as
      * last touch and as first touch within a 7-day lookback. The
      * crediting touch is chosen by the UNIQUE (ts, event_id) order
      * so both engines pick the identical event. */
    Query("q_events_attribution", attributionSql("events"))((s, d) =>
      attribution(events(s, d))),

    /** q228: SIGNED-INCREMENTAL 3-SIGMA ANOMALY [P one-step
      * incremental] — q225 maintained under the event delta by the
      * generic group-recompute rule: the (n, S=Σx, Q=Σx²) stats and
      * the per-day branch are functions of ONE user's timeline, so
      * touched users recompute from post-delta facts while untouched
      * users pass through unread. Oracle = batch q225 over
      * post-delta ⇒ hash proves maintenance ≡ recompute. */
    Query("q_incr_anomaly_sigma",
      anomalySigmaSql("(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(events(s, d), "event_id")
      Maintain.groupRecompute(delta.base, delta.post, Seq("user_id"),
          delta.touchedKeys("user_id"))(anomalySigma)
        .orderBy("user_id")
    }),

    /** q229: SIGNED-INCREMENTAL DAU/WAU [P one-step incremental] —
      * q226 maintained under the event delta by the touched-CELL
      * rule (q221's mechanism on the (day, block) grain): a delta
      * row invalidates exactly its own (dnum, blk) word — bit_or is
      * not invertible, so that word recomputes from cell-semi-joined
      * post-delta facts while every untouched word (memoized stored
      * partials) passes through unread; a recompute that empties a
      * cell (or a day) drops it, an insert that opens a new cell
      * creates it. The rolling/rollup stage then runs on the
      * maintained dimension-sized words. Oracle = batch q226 over
      * post-delta ⇒ hash proves maintenance ≡ recompute. */
    Query("q_incr_dau_wau",
      dauWauSql("(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(events(s, d), "event_id").map(
        _.withColumn("dnum", datediff(to_date(col("ts")), lit("1970-01-01")))
          .withColumn("blk", expr("(user_id - pmod(user_id, 32)) div 32")))
      dauWau(Maintain.groupRecomputeMemo(s, d, "dauwau_partials",
        delta.base, delta.post, Seq("dnum", "blk"),
        delta.touchedKeys("dnum", "blk"))(dailyBitmaps))
    }),

    // Round12e rows (see the section scaladoc above)
    /** q230: EXACT-RATIONAL OLS REGRESSION [T analytics surface] —
      * the SQL-standard REGR_SLOPE/REGR_INTERCEPT family, per
      * l_returnflag over cent-scaled (quantity → extendedprice), in
      * the engine's integer-exact discipline: moments are exact
      * DECIMAL(38,0), the answer is the exact rational (num, den) —
      * portable where a computed double is not (BIGINT→double above
      * 2^53 is not identically rounded across engines). ONE
      * partial-aggregated exchange; |flags|-bounded tail. */
    Query("q_agg_linreg", linregSql("lineitem"))((s, d) =>
      linregFinalize(linregPartials(lineitem(s, d)))),

    /** q231: PURE SIGNED-SUM INCREMENTAL OLS [P one-step
      * incremental] — q230 maintained under the lineitem delta
      * (l_orderkey%10: 0=insert, 1=delete) by SIGNED ADDITION ALONE:
      * every moment (count and the four sums) is invertible, so
      * maintained state = stored partials + partials(inserts) −
      * partials(deletes) — no touched-group recompute, no joins, no
      * re-read of any base fact; THE textbook one-step incremental
      * aggregate and the contrast row to the group-recompute family
      * (q224/q228) and the touched-cell family (q221/q229). Oracle =
      * batch q230 over post-delta ⇒ hash proves maintenance ≡
      * recompute. */
    Query("q_incr_linreg", linregSql(
      "(SELECT * FROM lineitem WHERE l_orderkey % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(lineitem(s, d), "l_orderkey")
      val baseP = Memos.frame(s, d, "analytics_ols/linreg_partials") {
        val p = linregPartials(delta.base).persist()
        p.count(); p
      }
      val merged = Maintain.signedMerge(Seq("l_returnflag"),
        Seq("n", "sx", "sy", "sxy", "sxx"),
        Seq(baseP, linregPartials(delta.inserts)),
        Seq(linregPartials(delta.deletes)))(col("n") > 0)
      linregFinalize(merged)
    }),

    /** q232: SIGNED-INCREMENTAL ATTRIBUTION [P one-step incremental]
      * — q227 maintained under the event delta by the group-
      * recompute rule: a purchase's credit depends only on its OWN
      * user's timeline (the 7-day lookback never crosses users), so
      * touched users' per-purchase credits recompute from post-delta
      * facts while untouched users' memoized credits pass through
      * unread; the |channels|-bounded rollup then re-sums. Oracle =
      * batch q227 over post-delta ⇒ hash proves maintenance ≡
      * recompute. */
    Query("q_incr_attribution", attributionSql(
      "(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(events(s, d), "event_id")
      attributionRollup(
        Maintain.groupRecomputeMemo(s, d, "attr_credits",
          delta.base, delta.post, Seq("user_id"),
          delta.touchedKeys("user_id"))(df => attrPerPurchase(df)))
    }),

    /** q233: USER LIFECYCLE ACCOUNTING [T analytics surface] — per
      * day: newly-seen users, returning users, and churning users
      * (their last active day) — the growth-accounting companion to
      * q226's DAU/WAU (n_new + n_returning = DAU by construction).
      * Facts reduce once to distinct (user, day); everything after
      * runs on the user dimension. */
    Query("q_events_lifecycle", lifecycleSql("events"))((s, d) =>
      lifecycle(events(s, d))),

    // Round12f rows (see the section scaladoc above)
    /** q234: IQR (TUKEY-FENCE) OUTLIER DETECTION [N data-quality] —
      * the robust-statistics member of the outlier trio (q217 mean
      * cross-multiplication, q225 integer 3σ): a user's day is
      * outlying when its count exceeds p75 + 1.5·IQR of that user's
      * daily counts, with p25/p75 exact interpolated order
      * statistics — bitwise identical across engines (see object
      * scaladoc). */
    Query("q_events_outlier_iqr",
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
           FROM events GROUP BY 1, 2
         ), q AS (
           SELECT user_id, count(*) AS n_days,
                  quantile_cont(cnt, 0.25) AS p25,
                  quantile_cont(cnt, 0.75) AS p75
           FROM daily GROUP BY 1
         )
         SELECT d.user_id, CAST(q.n_days AS BIGINT) AS n_days,
                q.p25, q.p75,
                CAST(sum(CASE WHEN d.cnt >
                    q.p75 + (q.p75 - q.p25) * 1.5
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_days
         FROM daily d JOIN q ON q.user_id = d.user_id
         GROUP BY 1, 2, 3, 4
         ORDER BY d.user_id""")((s, d) =>
      outlierIqr(events(s, d))),

    /** q235: TRIGRAM FREQUENCY SPECTRUM [T corpus statistics] — how
      * many distinct 3-gram shingles occur exactly k times
      * (k = 1..10, 11+ bucketed): the vocabulary-growth /
      * Good-Turing input, and the hapax-legomena count every
      * corpus-quality report starts with. */
    Query("q_text_freq_spectrum",
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                  generate_subscripts(string_split(text, ' '), 1) AS i
           FROM documents
         ), tri AS (
           SELECT a.w || ' ' || b.w || ' ' || c.w AS g
           FROM toks a
           JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
           JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
         ), wf AS (
           SELECT g, count(*) AS f FROM tri GROUP BY g
         )
         SELECT CAST(CASE WHEN f >= 11 THEN 11 ELSE f END AS BIGINT)
                  AS freq_bucket,
                CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(f) AS BIGINT) AS n_occurrences
         FROM wf GROUP BY 1 ORDER BY freq_bucket""")((s, d) =>
      freqSpectrum(documents(s, d))),

    /** q236: SIGNED-INCREMENTAL LIFECYCLE [P one-step incremental]
      * — q233 maintained under the event delta: the distinct
      * (user, day) actives are user-local, so touched users'
      * actives recompute from post-delta facts while untouched
      * users' memoized actives pass through unread (first/last are
      * not invertible under deletes — group-recompute is the honest
      * rule); the per-day rollup then runs on the maintained
      * dimension-sized actives. Oracle = batch q233 over post-delta
      * ⇒ hash proves maintenance ≡ recompute. */
    Query("q_incr_lifecycle", lifecycleSql(
      "(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(events(s, d), "event_id")
      lifecycleFromActives(
        Maintain.groupRecomputeMemo(s, d, "lifecycle_actives",
          delta.base, delta.post, Seq("user_id"),
          delta.touchedKeys("user_id"))(activesOf))
    }),

    // Round12g rows (see the section scaladoc above)
    /** q237: EXACT-RATIONAL GINI CONCENTRATION [T analytics surface]
      * — revenue concentration per order priority: the Gini
      * coefficient of order totals, in the q230 exact-rational
      * discipline (the digit-string (num, den) IS the portable
      * answer; num/den ∈ [0,1) at display time). Rank-weighted sums
      * run in DECIMAL(38,0); the rank is a window over the UNIQUE
      * (cents, orderkey) order — and Gini is tie-permutation
      * invariant regardless. One window sort + one aggregate per
      * group-keyed exchange. */
    Query("q_agg_gini",
      """WITH t AS (
           SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  o_orderkey,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT), o_orderkey) AS i
           FROM orders
         ), p AS (
           SELECT o_orderpriority, count(*) AS n, sum(cents) AS sx,
                  sum(i * cents) AS six
           FROM t GROUP BY 1
         )
         SELECT o_orderpriority, CAST(n AS BIGINT) AS n_rows,
                CAST(2 * six - (n + 1) * sx AS VARCHAR) AS gini_num,
                CAST(n * sx AS VARCHAR) AS gini_den
         FROM p ORDER BY o_orderpriority""")((s, d) =>
      gini(orders(s, d)
        .select(col("o_orderpriority"),
          (Dec.dec2(col("o_totalprice")) * 100).cast("long").as("cents"),
          col("o_orderkey")),
        "o_orderpriority", "cents", "o_orderkey")),

    /** q238: CLUSTERING COEFFICIENTS [T graph analytics] — per node
      * of the strong co-purchase graph (q83's structure): degree,
      * triangle count, and the local clustering coefficient as the
      * exact rational (2·tri, deg·(deg−1)) — how tightly each part's
      * co-purchase neighborhood closes. Per-node triangle incidences
      * come from the degree-ordered node-iterator (Σ outdeg² wedges,
      * one closing shuffle join — never an all-pairs or a broadcast
      * of a fact-sized edge list). Nodes with degree < 2 are
      * excluded (coefficient undefined). */
    Query("q_graph_clustering",
      """WITH op AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
         ), pairs AS (
           SELECT a.l_partkey pa, b.l_partkey pb
           FROM op a JOIN op b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         ), e AS (
           SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
         ), deg AS (
           SELECT node, count(*) AS degree FROM (
             SELECT pa AS node FROM e UNION ALL SELECT pb FROM e
           ) GROUP BY node
         ), tri AS (
           SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
           FROM e e1
           JOIN e e2 ON e1.pb = e2.pa
           JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
         ), tv AS (
           SELECT node, count(*) AS n_tri FROM (
             SELECT x AS node FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri
           ) GROUP BY node
         )
         SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
                CAST(coalesce(tv.n_tri, 0) AS BIGINT) AS n_tri,
                CAST(coalesce(tv.n_tri, 0) * 2 AS BIGINT) AS coeff_num,
                CAST(d.degree * (d.degree - 1) AS BIGINT) AS coeff_den
         FROM deg d LEFT JOIN tv ON tv.node = d.node
         WHERE d.degree >= 2
         ORDER BY d.node""")((s, d) => {
      val e = GraphStats.strongEdges(s, d)
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .localCheckpoint() // read twice: orientation + output join
      val tri = GraphStats.triangleVertices(e, Some(deg))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      deg.join(tri, Seq("node"), "left")
        .filter(col("degree") >= 2)
        .select(col("node"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          (coalesce(col("n_tri"), lit(0L)) * 2).as("coeff_num"),
          (col("degree") * (col("degree") - 1)).as("coeff_den"))
        .orderBy("node")
    }),

    /** q239: ROLLING EXACT MEDIAN [N time-series] — per user-day:
      * the day's count and the exact median of the trailing 7 daily
      * counts (ROWS frame over the unique (user, day) order) — the
      * robust smoother for burst-tolerant trend lines. The 0.5
      * interpolation is a power-of-two fraction over BIGINTs —
      * bitwise identical across engines. One user-keyed exchange,
      * |users|·|days|-bounded. */
    Query("q_ts_rolling_median",
      """SELECT user_id, day, CAST(cnt AS BIGINT) AS cnt,
                median(cnt) OVER (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
         FROM (
           SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
           FROM events GROUP BY 1, 2
         ) ORDER BY user_id, day""")((s, d) => {
      val daily = events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(-6, 0)
      // percentile, not median: Spark's median aggregate rejects a
      // window frame (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC);
      // percentile(·, 0.5) is the same exact statistic and frames
      // fine.
      daily.withColumn("med7", percentile(col("cnt"), lit(0.5)).over(w))
        .orderBy("user_id", "day")
    }),

    /** q240: EXACT-INTEGER CHI-SQUARE A/B TEST [T analytics surface]
      * — per event type: the 2×2 contingency (hash arm × this-type/
      * rest) and its χ² independence test decided entirely in exact
      * integer arithmetic — N·(ad−bc)² vs the product of marginals,
      * significance at α=0.05 via the cross-multiplied
      * 1000·num > 3841·den. No float rates, no float χ²: both
      * engines take the identical verdict. The always-on experiment
      * readout, in the engine's integer-exact discipline. */
    Query("q_events_chisq", chisqSql("events"))((s, d) =>
      chisqFinalize(chisqCounts(events(s, d)))),

    /** q241: PURE SIGNED-SUM INCREMENTAL CHI-SQUARE [P one-step
      * incremental] — q240 maintained under the event delta by
      * SIGNED ADDITION ALONE (the q231 rule on a statistical test):
      * the per-type arm counts are invertible sums, so maintained
      * counts = stored partials + counts(inserts) − counts(deletes),
      * and the |types|-bounded finalize re-runs on the maintained
      * counts — the always-on A/B dashboard never re-reads history.
      * Oracle = batch q240 over post-delta ⇒ hash proves
      * maintenance ≡ recompute. */
    Query("q_incr_chisq", chisqSql(
      "(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(events(s, d), "event_id")
      val baseP = Memos.frame(s, d, "analytics_chisq/chisq_counts") {
        val p = chisqCounts(delta.base).persist()
        p.count(); p
      }
      val merged = Maintain.signedMerge(Seq("event_type"), Seq("a", "c"),
        Seq(baseP, chisqCounts(delta.inserts)),
        Seq(chisqCounts(delta.deletes)))(col("a") + col("c") > 0)
      chisqFinalize(merged)
    })
  )
}
